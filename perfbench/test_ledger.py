"""Job-group attribution of the per-layer ledger, on a synthetic event log.

Run with ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ledger import (  # noqa: E402
    Tracer,
    engine_totals,
    flatten,
    per_group,
    span_ledger,
    steal_share,
)
from run import E2E_UNITS, layer_units  # noqa: E402


def _job(jid, group, start, end, stages):
    props = {} if group is None else {"spark.jobGroup.id": group}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": start * 1e3,
         "Stage IDs": stages, "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end * 1e3},
    ]


def _task(stage, run_ms, shuffle=0, reason="Success", python_ms=None):
    acc = [] if python_ms is None else [
        {"Name": "time to run Python workers", "Update": str(python_ms)}]
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": reason},
        "Task Info": {"Accumulables": acc},
        "Task Metrics": {
            "Executor Run Time": run_ms, "JVM GC Time": 10,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


def _span(sid, parent, name, start, end, group):
    return {"id": sid, "parent": parent, "run": "r", "name": name, "group": group,
            "start": start, "end": end, "counts": {}}


def _log():
    """Two repetitions of span ``q`` under their own groups, plus a job of a
    third group (``g:9``) that runs across both of them."""
    events = []
    events += _job(0, "g:1", 10.0, 11.0, [0])
    events += _job(1, "g:2", 20.0, 20.5, [1])
    events += _job(2, "g:9", 10.5, 21.0, [2])
    events += [_task(0, 1500, shuffle=100, python_ms=700), _task(0, 500),
               _task(1, 500, shuffle=7), _task(2, 9000, reason="ExceptionFailure")]
    spans = [
        _span(0, None, "engine", 9.0, 22.0, "g:0"),
        _span(1, 0, "q", 9.5, 11.5, "g:1"),
        _span(2, 0, "q", 19.5, 21.0, "g:2"),
    ]
    return events, spans


def test_each_span_counts_only_its_own_group():
    events, spans = _log()
    rows = span_ledger(spans, per_group(events))
    q1, q2 = rows[1], rows[2]
    assert (q1["jobs"], q1["task_s"], q1["shuffle_bytes"]) == (1, 2.0, 100)
    assert (q2["jobs"], q2["task_s"], q2["shuffle_bytes"]) == (1, 0.5, 7)
    assert q1["gap_s"] == 1.0 and q2["gap_s"] == 1.0
    assert q1["python_s"] == 0.7


def test_repetitions_sum_and_never_go_negative():
    events, spans = _log()
    rows = span_ledger(spans, per_group(events))
    flat = flatten(rows, {"q": ("wall_s", "jobs", "task_s", "gap_s"), "absent": ("wall_s",)})
    assert flat == {"q.wall_s": 3.5, "q.jobs": 2, "q.task_s": 2.5, "q.gap_s": 2.0,
                    "absent.wall_s": 0}
    assert all(r["gap_s"] >= 0 and r["busy_s"] + r["gap_s"] == r["self_s"] for r in rows)


def test_parent_self_time_excludes_children():
    events, spans = _log()
    root = span_ledger(spans, per_group(events))[0]
    assert root["wall_s"] == 13.0
    assert root["self_s"] == 13.0 - 2.0 - 1.5
    assert root["jobs"] == 0 and root["gap_s"] == root["self_s"]


def test_engine_totals_cover_every_group():
    events, spans = _log()
    eng = engine_totals(per_group(events), spans[0])
    assert eng["jobs"] == 3 and eng["failed_tasks"] == 1
    assert eng["task_s"] == 11.5 and eng["gc_s"] == pytest.approx(0.04)
    # jobs cover [10, 21] of the root's [9, 22]
    assert eng["gap_s"] == 2.0 and eng["unattributed_jobs"] == 0


def test_stage_submitted_properties_win_over_later_listing():
    events = _job(0, "g:1", 1.0, 2.0, [5])
    # stage 5 listed first by job 0, but submitted (and run) by job 1's group
    events = _job(1, "g:2", 2.0, 3.0, [5]) + events
    events.append({"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 5},
                   "Properties": {"spark.jobGroup.id": "g:1"}})
    events.append(_task(5, 4000))
    groups = per_group(events)
    assert groups["g:1"]["task_s"] == 4.0 and groups["g:2"]["task_s"] == 0


class _FakeContext:
    def __init__(self):
        self.group = None

    def setJobGroup(self, group, description):
        self.group = group

    def setLocalProperty(self, key, value):
        if key == "spark.jobGroup.id":
            self.group = value


class _FakeSpark:
    def __init__(self):
        self.sparkContext = _FakeContext()


def test_tracer_nests_groups_and_restores_parent():
    tr = Tracer("run1")
    spark = _FakeSpark()
    with tr.span("engine"):
        with tr.span("session.start"):
            pass
        tr.attach(spark)
        assert spark.sparkContext.group == "run1:0"
        with tr.span("exact") as counts:
            assert spark.sparkContext.group == "run1:2"
            counts["rows"] = 5
        assert spark.sparkContext.group == "run1:0"
    assert spark.sparkContext.group is None
    assert [s["parent"] for s in tr.spans] == [None, 0, 0]
    assert {s["run"] for s in tr.spans} == {"run1"}
    assert tr.spans[1]["group"] is None and tr.spans[2]["counts"] == {"rows": 5}


def test_benchmark_json_matches_the_metric_tables():
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "BENCHMARK.json")
    with open(path) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layer_units()


def test_steal_share_counts_only_wanted_time():
    before = [0] * 8
    # user 60, system 10, idle 100, iowait 10, steal 30 ticks
    after = [60, 0, 10, 100, 10, 0, 0, 30]
    assert steal_share(before, after) == 0.3
