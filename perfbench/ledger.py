"""Spans and the per-layer ledger.

A traced run wraps each call into a layer's public functions in a span.
Every span runs its Spark jobs under its own job group, so the event log
that ``camden_spark.session`` writes (``SPARK_GRAFT_EVENTLOG_DIR``) can be
split per span afterwards:

* ``wall_s``  — driver clock from span start to span end
* ``self_s``  — wall minus the time covered by child spans
* ``jobs``    — Spark jobs submitted under the span's own job group
* ``task_s``  — summed executor run time of those jobs' tasks
* ``gap_s``   — self time during which none of the span's own jobs ran
                (driver planning, Python glue, waiting on nothing)
* ``shuffle_bytes`` — shuffle bytes written by those jobs' tasks

Attribution keys on the job group, never on a span's name: two spans with
the same name (repetitions) keep separate groups, so one cannot absorb the
other's jobs and ``gap_s`` cannot go negative.  Spans that share a name are
summed when the ledger is flattened into metrics.

This module imports nothing from Spark, so the attribution can be tested on
a synthetic event log.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

#: task-metric fields summed per job group (event-log key path → ledger key)
_TASK_FIELDS = {
    ("Executor Run Time",): ("task_s", 1e-3),
    ("JVM GC Time",): ("gc_s", 1e-3),
    ("Memory Bytes Spilled",): ("spill_bytes", 1),
    ("Disk Bytes Spilled",): ("spill_bytes", 1),
    ("Input Metrics", "Bytes Read"): ("input_bytes", 1),
    ("Output Metrics", "Bytes Written"): ("bytes_written", 1),
    ("Shuffle Write Metrics", "Shuffle Bytes Written"): ("shuffle_bytes", 1),
}

#: SQL timing metric (milliseconds) of the Python evaluation operators
#: (ArrowEvalPython, MapInPandas, ...): time the task spent in Python workers
_PYTHON_TIME_METRIC = "time to run Python workers"


class Tracer:
    """Records spans in memory; each span's jobs run under its own group.

    ``spark`` may be attached after construction (the session start is
    itself a span, and no job group can be set before the session exists).
    """

    def __init__(self, run_id: str, spark=None) -> None:
        self.run_id = run_id
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, span: dict | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span is None or span["group"] is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span["group"], span["name"])

    @contextmanager
    def span(self, name: str, **counts):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        span = {
            "id": sid,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "name": name,
            "group": f"{self.run_id}:{sid}" if self.spark is not None else None,
            "start": time.time(),
            "end": None,
            "counts": dict(counts),
        }
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        try:
            yield span["counts"]
        finally:
            span["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def attach(self, spark) -> None:
        """Attach the session; open spans get job groups from now on."""
        self.spark = spark
        for span in self._stack:
            span["group"] = f"{self.run_id}:{span['id']}"
        if self._stack:
            self._set_group(self._stack[-1])


def cpu_ticks() -> list[int]:
    """Aggregate CPU tick counters from /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the CPU time the machine asked for between two
    ``cpu_ticks`` readings that the hypervisor gave to other guests:
    steal / (busy + steal).  Idle and iowait ticks ask for nothing."""
    delta = [b - a for a, b in zip(before, after)]
    wanted = sum(delta) - delta[3] - delta[4]
    return delta[7] / wanted if wanted > 0 else 0.0


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def _log_order(path: str):
    """Rolling logs (``eventlog_v2_<app>/events_<n>_<app>``) in index order."""
    name = os.path.basename(path)
    idx = int(name.split("_")[1]) if name.startswith("events_") else 0
    return os.path.dirname(path), idx


def read_event_log(ev_dir: str) -> list[dict]:
    """All events of every application log under ``ev_dir``, rolling or
    single-file (uncompressed: one JSON object per line)."""
    paths = [
        os.path.join(d, f)
        for d, _, files in os.walk(ev_dir)
        for f in files
        if not f.startswith((".", "appstatus"))
    ]
    events = []
    for path in sorted(paths, key=_log_order):
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    try:
                        events.append(json.loads(line))
                    except json.JSONDecodeError:
                        continue  # a torn last line of an aborted app
    return events


def _dig(d: dict, path: tuple[str, ...]):
    for key in path:
        if not isinstance(d, dict):
            return 0
        d = d.get(key)
    return d if isinstance(d, (int, float)) else 0


def per_group(events: list[dict]) -> dict:
    """Job-group → {jobs, intervals, task_s, gc_s, ...} from an event log.

    Stages are attributed by the job group of the job that submitted them:
    the ``SparkListenerStageSubmitted`` properties when present, else the
    first job whose ``SparkListenerJobStart`` lists the stage.  Jobs without
    a group land under ``None``.
    """
    groups: dict = {}
    job_group: dict[int, str | None] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str | None] = {}

    def bucket(g):
        if g not in groups:
            groups[g] = {
                "jobs": 0,
                "intervals": [],
                "failed_tasks": 0,
                "python_s": 0.0,
                **{k: 0 for k, _ in _TASK_FIELDS.values()},
            }
        return groups[g]

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            job_group[jid] = g
            job_start[jid] = ev["Submission Time"] / 1e3
            bucket(g)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerStageSubmitted" and "Properties" in ev:
            # the submitting job's properties: exact even for stages that a
            # later job lists again (and skips)
            stage_group[ev["Stage Info"]["Stage ID"]] = ev["Properties"].get(
                "spark.jobGroup.id"
            )
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_start:
                bucket(job_group[jid])["intervals"].append(
                    (job_start[jid], ev["Completion Time"] / 1e3)
                )
        elif kind == "SparkListenerTaskEnd":
            b = bucket(stage_group.get(ev["Stage ID"]))
            tm = ev.get("Task Metrics") or {}
            for path, (key, scale) in _TASK_FIELDS.items():
                b[key] += _dig(tm, path) * scale
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            if reason != "Success":
                b["failed_tasks"] += 1
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") == _PYTHON_TIME_METRIC:
                    b["python_s"] += int(acc.get("Update") or 0) / 1e3
    return groups


def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def _length(intervals) -> float:
    return sum(e - s for s, e in intervals)


def _minus(a: list[tuple[float, float]], b: list[tuple[float, float]]):
    """Interval-set difference a − b (both unions, sorted)."""
    out = []
    for s, e in a:
        cur = s
        for bs, be in b:
            if be <= cur or bs >= e:
                continue
            if bs > cur:
                out.append((cur, bs))
            cur = max(cur, be)
            if cur >= e:
                break
        if cur < e:
            out.append((cur, e))
    return out


def span_ledger(spans: list[dict], groups: dict) -> list[dict]:
    """One ledger row per span (same order as ``spans``)."""
    children: dict = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(sp)
    rows = []
    for sp in spans:
        start, end = sp["start"], sp["end"]
        kids = _union([(c["start"], c["end"]) for c in children.get(sp["id"], [])])
        own = _union([(start, end)])
        self_region = _minus(own, kids)
        g = groups.get(sp["group"]) if sp["group"] is not None else None
        g = g or {"jobs": 0, "intervals": [], "task_s": 0.0, "shuffle_bytes": 0}
        clipped = _union(
            [(max(s, start), min(e, end)) for s, e in g["intervals"]]
        )
        busy = _length(_minus(clipped, kids))  # own jobs in the self region
        self_s = _length(self_region)
        row = {
            "id": sp["id"],
            "parent": sp["parent"],
            "run": sp["run"],
            "name": sp["name"],
            "wall_s": end - start,
            "self_s": self_s,
            "jobs": g["jobs"],
            "task_s": g["task_s"],
            "busy_s": busy,
            "gap_s": max(0.0, self_s - busy),
            "shuffle_bytes": g["shuffle_bytes"],
        }
        for key in ("input_bytes", "bytes_written", "python_s"):
            if key in g:
                row[key] = g[key]
        row.update(sp["counts"])
        rows.append(row)
    return rows


def busy_s(intervals, start: float, end: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[start, end]``."""
    return _length(_union([(max(s, start), min(e, end)) for s, e in intervals]))


def engine_totals(groups: dict, root: dict) -> dict:
    """Whole-run engine counters over every job group; ``gap_s`` is the time
    of the root span during which no job of any group ran."""
    out = {"jobs": 0, "task_s": 0.0, "gc_s": 0.0, "spill_bytes": 0,
           "failed_tasks": 0, "shuffle_bytes": 0}
    for g in groups.values():
        for k in out:
            out[k] += g[k]
    every = [iv for g in groups.values() for iv in g["intervals"]]
    out["wall_s"] = root["end"] - root["start"]
    out["gap_s"] = out["wall_s"] - busy_s(every, root["start"], root["end"])
    out["unattributed_jobs"] = groups.get(None, {}).get("jobs", 0)
    return out


def flatten(rows: list[dict], suffixes: dict[str, tuple[str, ...]]) -> dict:
    """``{"<span>.<suffix>": value}`` for the named spans, summing spans that
    share a name; a span that never ran reports 0."""
    out: dict[str, float] = {}
    for span, keys in suffixes.items():
        mine = [r for r in rows if r["name"] == span]
        for key in keys:
            out[f"{span}.{key}"] = sum(r.get(key, 0) or 0 for r in mine)
    return out
