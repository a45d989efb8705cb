"""Analyze a Spark event log for scaling diagnostics.

For every stage: wall (submission→completion), task count, summed task run
time, and effective parallelism (= summed task time / stage wall).  Stages
whose effective parallelism is far below the core count are the ones that
cap strong scaling; gaps between stages are driver/bookkeeping time.

Usage: python tools/stage_profile.py /tmp/evlog8 [--cores 8] [--top 25]

The log is a ``SPARK_GRAFT_EVENTLOG_DIR`` directory; it resolves to its
newest app (``scaling_decompose.newest_app_events``).
"""

from __future__ import annotations

import argparse

from scaling_decompose import newest_app_events


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("log")
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--top", type=int, default=25)
    args = ap.parse_args()

    stages: dict[tuple[int, int], dict] = {}
    task_time: dict[tuple[int, int], float] = {}
    task_n: dict[tuple[int, int], int] = {}
    app_start = app_end = None
    for ev in newest_app_events(args.log):
        e = ev.get("Event")
        if e == "SparkListenerApplicationStart":
            app_start = ev["Timestamp"]
        elif e == "SparkListenerApplicationEnd":
            app_end = ev["Timestamp"]
        elif e == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            key = (si["Stage ID"], si["Stage Attempt ID"])
            stages[key] = {
                "name": si["Stage Name"].split("\n")[0][:70],
                "n_tasks": si["Number of Tasks"],
                "submit": si.get("Submission Time"),
                "complete": si.get("Completion Time"),
            }
        elif e == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev["Stage Attempt ID"])
            info = ev.get("Task Info", {})
            dur = (info.get("Finish Time", 0) or 0) - (
                info.get("Launch Time", 0) or 0
            )
            task_time[key] = task_time.get(key, 0.0) + max(dur, 0)
            task_n[key] = task_n.get(key, 0) + 1

    rows = []
    stage_wall_total = 0.0
    busy_total = 0.0
    for key, s in stages.items():
        if not s["submit"] or not s["complete"]:
            continue
        wall = (s["complete"] - s["submit"]) / 1000.0
        busy = task_time.get(key, 0.0) / 1000.0
        stage_wall_total += wall
        busy_total += busy
        rows.append(
            {
                "stage": key[0],
                "wall_s": round(wall, 2),
                "tasks": task_n.get(key, s["n_tasks"]),
                "task_time_s": round(busy, 1),
                "eff_par": round(busy / wall, 2) if wall > 0 else 0.0,
                "name": s["name"],
            }
        )
    rows.sort(key=lambda r: -r["wall_s"])
    app_wall = (
        (app_end - app_start) / 1000.0 if app_start and app_end else None
    )
    print(
        f"app_wall={app_wall and round(app_wall, 1)}s "
        f"sum_stage_wall={round(stage_wall_total, 1)}s "
        f"(stages overlap under AQE; gaps = driver time) "
        f"sum_task_time={round(busy_total, 1)}s "
        f"avg_par_over_app={app_wall and round(busy_total / app_wall, 2)}"
        f" of {args.cores} cores"
    )
    print(f"{'stage':>5} {'wall_s':>8} {'tasks':>6} {'task_s':>9} {'par':>6}  name")
    for r in rows[: args.top]:
        print(
            f"{r['stage']:>5} {r['wall_s']:>8} {r['tasks']:>6} "
            f"{r['task_time_s']:>9} {r['eff_par']:>6}  {r['name']}"
        )


if __name__ == "__main__":
    main()
