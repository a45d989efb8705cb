"""Per-query job/driver-gap decomposition for the bench headline queries.

Runs each headline query exactly like bench.py (_force full-row checksum),
runs every query's jobs under job group qp:<name>:<rep>, writes a Spark
event log, then attributes per query (``perfbench/ledger.py`` reads the log):

* wall        — driver-side wall clock around the forced action(s)
* n_jobs      — Spark jobs the query submitted
* task_s      — summed executor task run time (all jobs, all stages)
* job_cover_s — union of the query's job intervals
* gap_s       — wall - job_cover_s: driver/AQE planning time where NO job
                of this query was running (the §1/§7.3 "nothing is
                happening" term)

With QP_REPS=N each query runs N times; every column describes the rep
with the minimum wall.

Usage: python tools/query_profile.py [query ...]   (default: all headline)
Output: one JSON line per query + a TOTAL line (to stdout).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EVDIR = os.environ.get("QP_EVDIR", "/tmp/qp_evlog")


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from camden_spark.session import default_cores, get_spark

    cores = default_cores()
    if os.path.isdir("/dev/shm") and "SPARK_LOCAL_DIRS" not in os.environ:
        shm = "/dev/shm/spark_local"
        os.makedirs(shm, exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = shm
    os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = EVDIR
    import shutil

    shutil.rmtree(EVDIR, ignore_errors=True)

    import bench
    from camden_spark.entry_queries import QUERIES, RETIRED_ROWS_ONLY
    from camden_spark.plans.caches import release_caches
    from perfbench.ledger import busy_s, per_group, read_event_log

    names = sys.argv[1:] or bench.HEADLINE
    spark = get_spark("camden_spark_qprofile", cores=cores)
    spark.range(1000).selectExpr("sum(id)").collect()

    lookup = {**RETIRED_ROWS_ONLY, **QUERIES}
    walls: dict[str, float] = {}
    best: dict[str, tuple[str, float]] = {}  # min-wall rep: group, start
    reps = max(1, int(os.environ.get("QP_REPS", "1")))
    for rep in range(reps):
        for name in names:
            group = f"qp:{name}:{rep}"
            spark.sparkContext.setJobGroup(group, group)
            t0 = time.time()
            df = lookup[name](spark, sf_dir)
            bench._force(df)
            w = time.time() - t0
            if w < walls.get(name, float("inf")):
                walls[name], best[name] = w, (group, t0)
            release_caches()
    spark.stop()

    # every column comes from the min-wall rep's job group only, so
    # gap_s = wall - that rep's job cover >= 0
    groups = per_group(read_event_log(EVDIR))
    out: dict[str, dict] = {}
    for name in names:
        group, t0 = best[name]
        g = groups.get(group, {"jobs": 0, "intervals": [], "task_s": 0.0})
        covered = busy_s(g["intervals"], t0, t0 + walls[name])
        out[name] = {
            "wall": round(walls[name], 3),
            "n_jobs": g["jobs"],
            "task_s": round(g["task_s"], 2),
            "job_cover_s": round(covered, 2),
            "gap_s": round(walls[name] - covered, 2),
        }
        print(json.dumps({"query": name, **out[name]}))
    tot = {
        k: round(sum(v[k] for v in out.values()), 2)
        for k in ("wall", "n_jobs", "task_s", "gap_s")
    }
    print(json.dumps({"query": "TOTAL", **tot}))


if __name__ == "__main__":
    main()
