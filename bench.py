"""Per-round benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced with a FULL-ROW checksum aggregation
(bit_xor(xxhash64(to_json(struct(*))))) so Catalyst cannot prune the measured
work — a plain count() would let the optimizer skip expensive columns entirely
(e.g. the signature UDF).  The pipeline query runs with collect_metrics=False:
per-stage skew metrics cost extra tiny actions that dominate at toy scale and
are an observability feature, not part of the measured dataflow.

The sweep runs $BENCH_REPS times (default 3) and reports the per-query MIN
across sweeps — the same min-of-N discipline as bench_scaling.py, applied to
the per-round artifact itself: this box drifts ±30% across hours on identical
code (three back-to-back round-6 totals: 87.4 / 63.6 / 103.5 s), additive
host noise only ever inflates a run, and round 5's single-sample BENCH file
manufactured a phantom 1.25x cross-round "regression" that took a dedicated
same-host pair (BENCH/r4_vs_r6.json) to refute.  Sweeps are interleaved at
the whole-suite level so slow drift hits every query equally; per-sweep
totals are reported in "samples_total" so the spread stays visible.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "exact_dup_clusters",
    "text_stats",
    "minhash_signatures",
    "lsh_pairs",
    "simhash_pairs",
    "substr_pairs",
    "near_dup_clusters",
    "ann_topk",
    "embedding_near_dup_lsh",
    "embedding_near_dup_ivf",
    "media_phash_pairs",
    # added in round 3 (absent from BENCH_r01/r02 totals — cross-round
    # comparisons must use the shared-query subset, see BENCH/r2_vs_r3.json)
    "decontaminate",
    "pack_sequences",
    "repetition_stats",
    "dedup_incremental",
]


def _force(df) -> tuple[int, int]:
    """Materialize every row and column; returns (row_count, checksum)."""
    import pyspark.sql.functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(F.to_json(F.struct(*df.columns)))).alias("chk"),
    ).collect()[0]
    return int(row["n"]), int(row["chk"] or 0)


def _near_dup_clusters_bench(spark, sf_dir):
    """Same plan as queries()['near_dup_clusters'] minus the per-stage metric
    actions (collect_metrics=False — the flag the pipeline exposes for
    latency-sensitive runs)."""
    from camden_spark.entry_queries import CFG
    from camden_spark.plans.pipeline import DedupPipeline
    from camden_spark.sources.pages import pages_from_documents

    pages = pages_from_documents(spark, sf_dir)
    return DedupPipeline(cfg=CFG, collect_metrics=False).run(pages).clusters


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    # shuffle local dirs on tmpfs when available: the sandbox's single
    # virtual disk otherwise adds device contention a multi-node cluster
    # (per-node SSDs) does not have — same rationale/measurement as
    # bench_scaling.run_once (must be set before the JVM starts)
    if os.path.isdir("/dev/shm") and "SPARK_LOCAL_DIRS" not in os.environ:
        shm = "/dev/shm/spark_local"
        os.makedirs(shm, exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = shm

    from camden_spark.entry_queries import QUERIES, RETIRED_ROWS_ONLY
    from camden_spark.session import get_spark

    spark = get_spark("camden_spark_bench", cores=cores)
    # warm the JVM once so per-query times measure the plan, not session
    # startup
    spark.range(1000).selectExpr("sum(id)").collect()

    n_docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).count()
    overrides = {"near_dup_clusters": _near_dup_clusters_bench}
    times: dict[str, float] = {}
    rows: dict[str, int] = {}
    from camden_spark.plans.caches import release_caches

    # minhash_signatures was retired from the 50-entry driver registry
    # (round 6) but stays a bench headline for cross-round comparability
    lookup = {**RETIRED_ROWS_ONLY, **QUERIES}
    reps = max(1, int(os.environ.get("BENCH_REPS", "3")))
    sweeps: list[dict[str, float]] = []
    for _rep in range(reps):
        sweep: dict[str, float] = {}
        for name in HEADLINE:
            fn = overrides.get(name, lookup[name])
            t0 = time.time()
            df = fn(spark, sf_dir)
            n, _ = _force(df)
            sweep[name] = round(time.time() - t0, 3)
            if name in rows and rows[name] != n:
                raise SystemExit(
                    f"nondeterministic row count for {name}: "
                    f"{rows[name]} vs {n} across sweeps"
                )
            rows[name] = n
            # cache hygiene between queries: each query's operator caches
            # are fully consumed by _force; releasing keeps storage memory
            # flat across the run (and the release cost is inside the
            # measured time of NO query — it runs after the clock stops)
            release_caches()
        sweeps.append(sweep)
    times = {
        name: min(sweep[name] for sweep in sweeps) for name in HEADLINE
    }

    total = round(sum(times.values()), 3)
    pipeline_sec = times.get("near_dup_clusters", 0.0)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_docs": n_docs,
        "pipeline_docs_per_sec": round(n_docs / pipeline_sec, 1)
        if pipeline_sec
        else None,
        "rows": rows,
        "cores": cores,
        "reps": reps,
        "samples_total": [
            round(sum(sweep.values()), 3) for sweep in sweeps
        ],
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
