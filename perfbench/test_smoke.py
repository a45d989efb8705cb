"""The benchmark end to end at a tiny input size (a few minutes: three
fresh Spark processes).  Run with ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _bench(trace: int) -> tuple[dict, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "web_mixed",
         "--seed", "5", "--seconds", "1", "--trace", str(trace), "--docs", "300"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1]), proc.stderr


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _note(stderr: str, prefix: str) -> str:
    return next(line.split(": ", 1)[1] for line in stderr.splitlines()
                if line.startswith(prefix))


def test_untraced_run_prints_every_end_to_end_metric():
    out, _ = _bench(0)
    assert out["correct"] and out["attempted"] >= 1 and out["failed"] == 0
    assert {k: v["unit"] for k, v in out["metrics"].items()} == _declared("end_to_end")
    assert out["metrics"]["pair_recall"]["value"] >= 0.99
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_run_prints_the_ledger_and_matches_the_untraced_output():
    out, stderr = _bench(1)
    assert out["correct"] and out["attempted"] >= 1 and out["failed"] == 0
    assert {k: v["unit"] for k, v in out["metrics"].items()} == _declared("per_layer")
    traced = json.loads(_note(stderr, "traced: "))["checksum"]
    assert _note(stderr, "untraced checksum of seed 5: ") == traced
    metrics = {k: v["value"] for k, v in out["metrics"].items()}
    for layer in ("sources.scan", "exact", "signatures", "lsh.verify", "cc", "sinks"):
        assert metrics[f"{layer}.jobs"] > 0
    assert metrics["engine.unattributed_jobs"] == 0
    with open(os.path.join(ROOT, ".perfbench_work", "trace-web_mixed.json")) as fh:
        rows = json.load(fh)
    assert len({r["run"] for r in rows}) == 1
    ids = {r["id"] for r in rows}
    root = [r for r in rows if r["parent"] is None]
    assert [r["name"] for r in root] == ["engine"]
    assert all(r["parent"] in ids for r in rows if r["parent"] is not None)
