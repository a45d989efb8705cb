"""Dump explain('formatted') for headline queries to plans/r07/<q>_<tag>.txt.

Usage: python tools/dump_plans.py before|after [query ...]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    tag = sys.argv[1]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from camden_spark.session import default_cores, get_spark

    cores = default_cores()
    import bench
    from camden_spark.entry_queries import QUERIES, RETIRED_ROWS_ONLY

    names = sys.argv[2:] or bench.HEADLINE
    spark = get_spark("camden_spark_plans", cores=cores)
    lookup = {**RETIRED_ROWS_ONLY, **QUERIES}
    outdir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", "r07")
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        try:
            df = lookup[name](spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as exc:  # noqa: BLE001 - record the failure
            text = f"EXPLAIN FAILED: {exc}\n"
        with open(os.path.join(outdir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(text)
        print(f"{name}: {len(text)} bytes")
    spark.stop()


if __name__ == "__main__":
    main()
