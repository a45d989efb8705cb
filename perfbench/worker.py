"""One benchmark operation in a fresh process.

Usage: ``python3 perfbench/worker.py <spec.json> <result.json>``, started by
``perfbench/run.py`` with the run environment already pinned.  Starts the
session, warms the Python workers, runs one CLI pipeline (``main.run``) or
its traced twin (``traced.run_traced``) and writes timings to the result
file.  ``setup_s`` runs from the moment the parent launched this process.
Each timing comes with the share of CPU time stolen by other guests of the
host while it ran (``steal``, ``setup_steal``).
"""

from __future__ import annotations

import json
import sys
import time

from ledger import cpu_ticks, steal_share


def main(spec_path: str, result_path: str) -> None:
    with open(spec_path) as fh:
        spec = json.load(fh)
    argv = ["--input", spec["input"], "--output", spec["output"], *spec["flags"]]
    result: dict = {}
    if spec["trace"]:
        from ledger import Tracer

        tr = Tracer(spec["run_id"])
        with tr.span("engine"):
            with tr.span("session.start"):
                from camden_spark.session import get_spark, warm_python_workers

                spark = get_spark("camden_spark_main", cores=spec["cores"])
            tr.attach(spark)
            with tr.span("session.warm"):
                warm_python_workers(spark)
            result["setup_s"] = time.time() - spec["launched_at"]
            result["setup_steal"] = steal_share(spec["launch_ticks"], cpu_ticks())
            from traced import run_traced

            t0, ticks = time.perf_counter(), cpu_ticks()
            run_traced(spark, tr, spec["input"], spec["output"], spec["flags"])
            result["op_s"] = time.perf_counter() - t0
            result["steal"] = steal_share(ticks, cpu_ticks())
        result["spans"] = tr.spans
    else:
        from camden_spark.session import get_spark, warm_python_workers

        spark = get_spark("camden_spark_main", cores=spec["cores"])
        warm_python_workers(spark)
        result["setup_s"] = time.time() - spec["launched_at"]
        result["setup_steal"] = steal_share(spec["launch_ticks"], cpu_ticks())
        import main as cli

        t0, ticks = time.perf_counter(), cpu_ticks()
        summary = cli.run(argv)
        result["op_s"] = time.perf_counter() - t0
        result["steal"] = steal_share(ticks, cpu_ticks())
        result["docs"] = summary["docs"]
    # stopping flushes the event log of a traced run
    spark.stop()
    with open(result_path, "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
