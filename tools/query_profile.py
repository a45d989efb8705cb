"""Per-query job/driver-gap decomposition for the bench headline queries.

Runs each headline query exactly like bench.py (_force full-row checksum),
labels every query's jobs via setJobDescription, writes a Spark event log,
then attributes per query:

* wall      — driver-side wall clock around the forced action(s)
* n_jobs    — Spark jobs the query submitted
* task_s    — summed executor task time (all jobs, all stages)
* stage_s   — summed stage wall (submission→completion, overlaps not merged)
* gap_s     — wall - union-of-job-intervals: driver/AQE planning time where
              NO job of this query was running (the §1/§7.3 "nothing is
              happening" term)

With QP_REPS=N each query runs N times; jobs are tagged qp:<name>:<rep> and
every column describes the rep with the minimum wall.

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
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
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
    from camden_spark.session import get_spark
    from tools.scaling_decompose import load_events

    names = sys.argv[1:] or bench.HEADLINE
    spark = get_spark("camden_spark_qprofile", cores=cores)
    spark.range(1000).selectExpr("sum(id)").collect()

    lookup = {**RETIRED_ROWS_ONLY, **QUERIES}
    overrides = {"near_dup_clusters": bench._near_dup_clusters_bench}
    walls: dict[str, float] = {}
    best_rep: dict[str, int] = {}
    reps = max(1, int(os.environ.get("QP_REPS", "1")))
    for rep in range(reps):
        for name in names:
            fn = overrides.get(name, lookup[name])
            spark.sparkContext.setJobDescription(f"qp:{name}:{rep}")
            t0 = time.time()
            df = fn(spark, sf_dir)
            bench._force(df)
            w = time.time() - t0
            if w < walls.get(name, float("inf")):
                walls[name], best_rep[name] = w, rep
            spark.sparkContext.setJobDescription(None)
            release_caches()
    spark.stop()

    # ---- parse the event log --------------------------------------------
    # every column below comes from the min-wall rep's jobs only (its
    # qp:<name>:<rep> tag), so gap_s = wall - that rep's job cover >= 0
    jobs: dict[int, dict] = {}  # job id -> {tag, start, end}
    stage_job: dict[int, int] = {}
    stage_info: dict[int, dict] = {}
    task_time: dict[int, float] = {}
    for ev in load_events(EVDIR):
        e = ev.get("Event")
        if e == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = {
                "tag": (ev.get("Properties") or {}).get("spark.job.description"),
                "start": ev["Submission Time"],
                "end": None,
            }
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif e == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif e == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sub, comp = si.get("Submission Time"), si.get("Completion Time")
            if sub and comp:
                stage_info[si["Stage ID"]] = {"wall": (comp - sub) / 1e3}
        elif e == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            tm = ev.get("Task Metrics") or {}
            task_time[sid] = task_time.get(sid, 0.0) + (
                tm.get("Executor Run Time", 0) / 1e3
            )

    out: dict[str, dict] = {}
    for name in names:
        tag = f"qp:{name}:{best_rep[name]}"
        qjobs = [j for j in jobs.values() if j["tag"] == tag and j["end"]]
        sids = [s for s, jid in stage_job.items() if jobs[jid]["tag"] == tag]
        ivals = sorted((j["start"], j["end"]) for j in qjobs)
        covered = 0.0
        cur_s = cur_e = None
        for s, e in ivals:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[name] = {
            "wall": round(walls[name], 3),
            "n_jobs": len(qjobs),
            "task_s": round(sum(task_time.get(s, 0.0) for s in sids), 2),
            "stage_s": round(
                sum(stage_info.get(s, {}).get("wall", 0.0) for s in sids), 2
            ),
            "job_cover_s": round(covered / 1e3, 2),
            "gap_s": round(walls[name] - covered / 1e3, 2),
        }
        print(json.dumps({"query": name, **out[name]}))
    tot = {
        k: round(sum(v[k] for v in out.values()), 2)
        for k in ("wall", "n_jobs", "task_s", "stage_s", "gap_s")
    }
    print(json.dumps({"query": "TOTAL", **tot}))


if __name__ == "__main__":
    main()
