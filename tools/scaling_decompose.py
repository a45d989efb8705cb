"""Decompose a scaling leg's Spark event log into the terms that explain an
N→4N efficiency number.

The identity used (per leg)::

    app_wall = stage_covered_wall + driver_gap_wall
    core_seconds_available (inside stages) = Σ stage_wall × cores
    core_seconds_busy = Σ task run time
    stage_tail_idle = available − busy          (scheduling + tail skew)
    busy = compute + shuffle_fetch_wait + shuffle_write + gc + deser/ser

``driver_gap_wall`` is wall time when NO stage was running — pure
driver/Catalyst/bookkeeping, a fixed cost that does not shrink with more
executors.  ``stage_tail_idle`` grows with executor count when partition
counts or skew leave cores empty at stage ends.  Comparing the same
decomposition across the N and 4N legs names the non-scaling term instead of
guessing (VERDICT r5 ask #1).

Usage (``SPARK_GRAFT_EVENTLOG_DIR`` directories; the newest app in each)::

    python tools/scaling_decompose.py /path/to/eventlog_dir --cores 8
    # or several: one JSON line each
    python tools/scaling_decompose.py ev_a ev_b --cores 2 8
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.ledger import read_event_log


def newest_app_events(path: str) -> list[dict]:
    """Events of the newest rolled ``eventlog_v2_<app>/`` app in an
    uncompressed event-log directory (of every log file in it when it holds
    none): a reused directory accumulates one app per run, and a
    decomposition describes ONE run, not a concatenation of every run."""
    apps = [
        os.path.join(path, d)
        for d in os.listdir(path)
        if d.startswith("eventlog_v2_")
    ]
    return read_event_log(max(apps, key=os.path.getmtime) if apps else path)


def decompose(log: str, cores: int) -> dict:
    app_start = app_end = None
    intervals: list[tuple[float, float]] = []
    job_intervals: list[tuple[float, float]] = []
    job_start_ts: dict[int, float] = {}
    busy_ms = 0.0
    fetch_wait_ms = 0.0
    write_ms = 0.0
    gc_ms = 0.0
    deser_ms = 0.0
    result_ser_ms = 0.0
    n_tasks = 0
    n_stages = 0
    shuffle_read_b = 0
    shuffle_write_b = 0
    for ev in newest_app_events(log):
        e = ev.get("Event")
        if e == "SparkListenerApplicationStart":
            app_start = ev["Timestamp"]
        elif e == "SparkListenerApplicationEnd":
            app_end = ev["Timestamp"]
        elif e == "SparkListenerJobStart":
            job_start_ts[ev.get("Job ID")] = ev.get("Submission Time")
        elif e == "SparkListenerJobEnd":
            s = job_start_ts.pop(ev.get("Job ID"), None)
            t = ev.get("Completion Time")
            if s and t:
                job_intervals.append((s, t))
        elif e == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            if si.get("Submission Time") and si.get("Completion Time"):
                intervals.append(
                    (si["Submission Time"], si["Completion Time"])
                )
                n_stages += 1
        elif e == "SparkListenerTaskEnd":
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            busy_ms += max(
                (info.get("Finish Time", 0) or 0)
                - (info.get("Launch Time", 0) or 0),
                0,
            )
            n_tasks += 1
            gc_ms += m.get("JVM GC Time", 0) or 0
            deser_ms += m.get("Executor Deserialize Time", 0) or 0
            result_ser_ms += m.get("Result Serialization Time", 0) or 0
            sr = m.get("Shuffle Read Metrics") or {}
            fetch_wait_ms += sr.get("Fetch Wait Time", 0) or 0
            shuffle_read_b += (sr.get("Local Bytes Read", 0) or 0) + (
                sr.get("Remote Bytes Read", 0) or 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            write_ms += (sw.get("Shuffle Write Time", 0) or 0) / 1e6  # ns→ms
            shuffle_write_b += sw.get("Shuffle Bytes Written", 0) or 0
    def merged_wall(ivs: list[tuple[float, float]]) -> float:
        """Wall time covered by ≥1 interval (overlaps merged)."""
        ivs = sorted(ivs)
        total = 0.0
        cur_s = cur_e = None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total

    covered_ms = merged_wall(intervals)
    job_covered_ms = merged_wall(job_intervals)
    app_wall_ms = (app_end - app_start) if app_start and app_end else None
    out = {
        "log": log,
        "cores": cores,
        "app_wall_s": app_wall_ms and round(app_wall_ms / 1e3, 1),
        "stage_covered_s": round(covered_ms / 1e3, 1),
        "driver_gap_s": app_wall_ms
        and round((app_wall_ms - covered_ms) / 1e3, 1),
        "n_stages": n_stages,
        "n_jobs": len(job_intervals),
        # between-jobs gap = wall with no JOB running (driver python +
        # Catalyst planning between actions); within-jobs gap = job wall
        # minus stage wall (stage submission/DAG bookkeeping inside a job)
        "between_jobs_gap_s": app_wall_ms
        and round((app_wall_ms - job_covered_ms) / 1e3, 1),
        "within_jobs_gap_s": round((job_covered_ms - covered_ms) / 1e3, 1),
        "n_tasks": n_tasks,
        "task_busy_core_s": round(busy_ms / 1e3, 1),
        # idle core-seconds inside stage windows (tail skew + task launch)
        "stage_tail_idle_core_s": round(
            (covered_ms * cores - busy_ms) / 1e3, 1
        ),
        "shuffle_fetch_wait_s": round(fetch_wait_ms / 1e3, 2),
        "shuffle_write_s": round(write_ms / 1e3, 2),
        "gc_s": round(gc_ms / 1e3, 2),
        "deserialize_s": round(deser_ms / 1e3, 2),
        "result_ser_s": round(result_ser_ms / 1e3, 2),
        "shuffle_read_mb": round(shuffle_read_b / 1e6, 1),
        "shuffle_write_mb": round(shuffle_write_b / 1e6, 1),
        "avg_parallelism": app_wall_ms
        and round(busy_ms / app_wall_ms, 2),
    }
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("logs", nargs="+")
    ap.add_argument(
        "--cores",
        type=int,
        nargs="+",
        default=[8],
        help="cores per leg (one value, or one per log)",
    )
    args = ap.parse_args()
    cores = args.cores
    if len(cores) == 1:
        cores = cores * len(args.logs)
    for log, c in zip(args.logs, cores):
        print(json.dumps(decompose(log, c)))


if __name__ == "__main__":
    main()
