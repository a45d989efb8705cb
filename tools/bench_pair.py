"""Same-host, interleaved bench.py comparison across repo snapshots.

VERDICT r5 found BENCH_r05 slower than BENCH_r04 on every query but had no
same-host pair to attribute it (host drift vs code).  This harness runs
bench.py from N checkouts back-to-back, interleaved round-robin (so slow
host drift hits every snapshot equally), and reports per-query MIN across
reps for each snapshot plus the ratios.  The order rotates by one snapshot
each rep (rep 0 runs a, b; rep 1 runs b, a), so drift within a rep does not
always land on the same side.

Usage::

    python tools/bench_pair.py --snap r4=/tmp/r4snap r5=/tmp/r5snap r6=/root/repo \
        --reps 3 --sf /root/testdata/sf0.1 --out BENCH/r4_vs_r6.json
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from camden_spark.session import default_cores  # noqa: E402


def run_bench(repo: str, sf: str, cpus: str) -> dict:
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf, SPARK_GRAFT_CPUS=cpus)
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "bench.py")],
        cwd=repo,
        env=env,
        capture_output=True,
        text=True,
        timeout=3600,
    )
    wall = time.time() - t0
    if proc.returncode != 0:
        print(proc.stdout[-2000:], proc.stderr[-3000:], file=sys.stderr)
        raise RuntimeError(f"bench.py failed in {repo}")
    # bench.py prints ONE JSON line on stdout (last non-empty line)
    line = [l for l in proc.stdout.strip().splitlines() if l.strip().startswith("{")][-1]
    out = json.loads(line)
    out["wall_incl_startup"] = round(wall, 1)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--snap", nargs="+", required=True,
                    help="name=path pairs, e.g. r4=/tmp/r4snap r6=/root/repo")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--cpus", default=str(default_cores()))
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    snaps = [s.split("=", 1) for s in args.snap]
    samples: dict[str, list[dict]] = {name: [] for name, _ in snaps}
    for rep in range(args.reps):
        k = rep % len(snaps)
        for name, path in snaps[k:] + snaps[:k]:
            print(f"rep {rep} {name} ...", file=sys.stderr)
            samples[name].append(run_bench(path, args.sf, args.cpus))

    report: dict = {"sf": args.sf, "reps": args.reps, "snaps": {}}
    for name, _ in snaps:
        runs = samples[name]
        queries: dict[str, float] = {}
        for q in runs[0].get("queries", {}):
            vals = [r["queries"][q] for r in runs if q in r.get("queries", {})]
            queries[q] = min(vals)
        report["snaps"][name] = {
            "total_min_sec": round(sum(queries.values()), 2),
            "value_min": min(r.get("value", 0) for r in runs),
            "queries_min": {k: round(v, 3) for k, v in queries.items()},
            "totals_per_rep": [
                round(sum(r.get("queries", {}).values()), 2) for r in runs
            ],
        }
    base = snaps[0][0]
    for name, _ in snaps[1:]:
        b, h = report["snaps"][base], report["snaps"][name]
        ratios = {
            q: round(h["queries_min"][q] / b["queries_min"][q], 3)
            for q in h["queries_min"]
            if q in b["queries_min"] and b["queries_min"][q] > 0
        }
        report[f"{name}_over_{base}"] = {
            "total_ratio": round(
                h["total_min_sec"] / b["total_min_sec"], 3
            ),
            "per_query_ratio": ratios,
        }
    js = json.dumps(report, indent=2)
    if args.out:
        with open(args.out, "w") as f:
            f.write(js + "\n")
    print(js)


if __name__ == "__main__":
    main()
