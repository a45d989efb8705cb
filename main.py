"""spark-submit entry point.

Usage (cluster)::

    zip -r camden_spark.zip camden_spark
    spark-submit --py-files camden_spark.zip main.py \
        --input /path/to/pages --output /path/to/out \
        --checkpoint-dir /path/to/ckpt

Sandbox (two parallelism levels for the scaling run)::

    SPARK_GRAFT_CPUS=8  python main.py --input ... --output ...
    SPARK_GRAFT_CPUS=32 python main.py --input ... --output ...

Mirrors the reference CLI (reference src/cli.rs:27-96: root, target,
--no-thread, extension list) as: --input (root), --output (target),
--cores (threading mode), config flags (the allow-list analog is the
normalization/threshold config).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="camden_spark dedup pipeline")
    p.add_argument("--input", required=True, help="pages table (dir or iceberg:ident)")
    p.add_argument("--output", required=True, help="output directory")
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--commit-mode", default="rename", choices=["rename", "manifest"],
                   help="snapshot commit protocol: rename (POSIX fs) or "
                        "manifest (object-store-safe, manifest-PUT-last)")
    p.add_argument("--cores", type=int, default=None)
    # default None → DedupConfig's 0.65 owns the default (one source of
    # truth: CLI runs must cluster identically to entry()/tests)
    p.add_argument("--jaccard-threshold", type=float, default=None)
    p.add_argument("--sig-backend", default=None, choices=["jvm", "arrow"],
                   help="signature stage backend: jvm (Catalyst builtins, no "
                        "python workers) or arrow (vectorized pandas UDF); "
                        "default = DedupConfig's")
    p.add_argument("--no-lsh", action="store_true")
    p.add_argument("--no-simhash", action="store_true")
    p.add_argument("--no-substr", action="store_true")
    p.add_argument("--write-split", action="store_true",
                   help="also write canonical/duplicates tables (A6 analog)")
    p.add_argument("--report", action="store_true",
                   help="print the console duplicate report (extra actions)")
    p.add_argument("--skip-metrics", action="store_true",
                   help="skip per-stage skew metric collection (bench mode)")
    return p.parse_args(argv)


def run(argv: list[str]) -> dict:
    args = parse_args(argv)
    from camden_spark.config import DedupConfig
    from camden_spark.plans.pipeline import DedupPipeline
    from camden_spark.session import get_spark
    from camden_spark.sources.pages import load_pages
    from camden_spark.sources.sinks import (
        print_duplicate_report,
        write_clusters_json,
        write_dedup_split,
    )

    spark = get_spark("camden_spark_main", cores=args.cores)

    # executor-shape scaling legs: SPARK_GRAFT_PIN_EXECUTORS=<cores/exec>
    # pins each local-cluster executor JVM to its own CPU slice (and the
    # driver to a reserved one) before any UDF task forks a python daemon
    import os as _os

    pin_cpe = _os.environ.get("SPARK_GRAFT_PIN_EXECUTORS")
    if pin_cpe:
        from camden_spark.session import pin_executor_fleet

        assign = pin_executor_fleet(
            spark,
            int(pin_cpe),
            int(_os.environ.get("SPARK_GRAFT_DRIVER_CORES", "2")),
        )
        if assign:
            print(f"pinned executors: {assign}", file=sys.stderr)
    overrides = {}
    if args.jaccard_threshold is not None:
        overrides["jaccard_threshold"] = args.jaccard_threshold
    if args.sig_backend is not None:
        overrides["sig_backend"] = args.sig_backend
    cfg = DedupConfig(**overrides)
    pages = load_pages(spark, args.input)
    t0 = time.time()
    pipeline = DedupPipeline(
        cfg=cfg,
        checkpoint_dir=args.checkpoint_dir,
        checkpoint_commit_mode=args.commit_mode,
        enable_lsh=not args.no_lsh,
        enable_simhash=not args.no_simhash,
        enable_substr=not args.no_substr,
        collect_metrics=not args.skip_metrics,
    )
    result = pipeline.run(pages)
    clusters = result.clusters
    clusters.write.mode("overwrite").parquet(f"{args.output}/clusters")
    write_clusters_json(clusters, f"{args.output}/clusters_json")
    if args.write_split:
        stats = write_dedup_split(pages, clusters, args.output)
    else:
        stats = {}
    # doc count rides the observe() counter on the clusters frame — the
    # write above materialized it, no extra scan
    n_docs = (result.counters.get() or {}).get("clusters_total") or pages.count()
    elapsed = time.time() - t0
    if args.report:
        print_duplicate_report(clusters)
    summary = {
        "docs": n_docs,
        "elapsed_sec": round(elapsed, 3),
        "docs_per_sec": round(n_docs / elapsed, 1),
        "metrics": {k: v for k, v in result.metrics.items()},
        "counters": result.counters.get() if result.counters else {},
        **stats,
    }
    with open(f"{args.output}/summary.json", "w") as f:
        json.dump(summary, f, indent=2, default=str)
    print(json.dumps(summary, default=str))
    # all outputs are written; free the operator/pipeline caches so a driver
    # program embedding run() in a longer session doesn't accumulate storage
    result.release()
    return summary


if __name__ == "__main__":
    run(sys.argv[1:])
