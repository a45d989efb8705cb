"""The CLI pipeline, one layer at a time, under spans.

``run_traced`` calls the layers' public functions in the order
``DedupPipeline.run`` calls them, with the same configuration, and forces
each layer's output once inside that layer's span.  Two differences from
the untraced CLI run, both visible in ``trace.overhead_s``:

* the candidate branches (LSH, SimHash, substring) run one after another
  instead of overlapping on driver threads;
* every layer's output is materialized where its span ends, so the next
  layer reads it instead of recomputing it.

Counts (rows, candidates, verified pairs) are taken right after the span
they describe, under a separate ``trace`` span, so their jobs never land in
a layer's ledger row.  The written clusters must hash to the same value as
the untraced run's; the caller checks that.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from camden_spark.config import DedupConfig
from camden_spark.functions.shingles import with_shingles, with_signatures
from camden_spark.operators.components import assign_clusters
from camden_spark.operators.exact import exact_dedup_clusters, with_checksum
from camden_spark.operators.lsh import candidate_pairs_lsh, verify_pairs_jaccard
from camden_spark.operators.simhash import candidate_pairs_simhash
from camden_spark.operators.substr import (
    candidate_pairs_substr,
    verify_pairs_substr,
    with_fingerprints,
)
from camden_spark.plans.caches import (
    materialize_barrier,
    release_caches,
    track_cache,
    warm_cache,
)
from camden_spark.plans.pipeline import _estimated_scan_partitions
from camden_spark.sources.pages import load_pages, normalize_pages
from camden_spark.sources.sinks import write_clusters_json


def _ratio(num: int, den: int) -> float:
    return num / den if den else 0.0


def _pair_urls(pairs):
    return (
        pairs.select(F.col("url_a").alias("url"))
        .union(pairs.select(F.col("url_b").alias("url")))
        .distinct()
    )


def run_traced(spark, tr, input_dir: str, out_dir: str, flags: list[str]) -> None:
    cfg = DedupConfig()
    enable_lsh = "--no-lsh" not in flags
    enable_simhash = "--no-simhash" not in flags
    enable_substr = "--no-substr" not in flags

    with tr.span("sources.scan") as c_scan:
        pages = load_pages(spark, input_dir)
        base = pages.select("url", "warc_ts", "text")
        if 0 < _estimated_scan_partitions(pages) < max(
            2, cfg.shuffle_partitions // 2
        ):
            base = base.repartition(cfg.shuffle_partitions)
        norm = track_cache(
            normalize_pages(
                with_checksum(base, cfg), cfg.lowercase, cfg.collapse_whitespace
            ).select("url", "warc_ts", "checksum", "norm_text")
        )
        c_scan["rows"] = n_docs = norm.count()

    with tr.span("exact") as c_exact:
        exact = warm_cache(exact_dedup_clusters(norm, cfg))
    with tr.span("trace"):
        dup, distinct = exact.agg(
            F.sum((F.col("rn") > 1).cast("long")),
            F.sum(F.col("is_canonical").cast("long")),
        ).first()
        c_exact["dup_rows"] = int(dup or 0)
        c_exact["distinct_ratio"] = _ratio(int(distinct or 0), n_docs)

    canon = exact.filter(F.col("rn") == 1).select(
        F.col("checksum"), F.col("url").alias("canon_url")
    )
    exact_pairs = (
        exact.filter(F.col("rn") > 1)
        .select("checksum", "url")
        .join(canon, "checksum")
        .select(
            F.least("canon_url", "url").alias("url_a"),
            F.greatest("canon_url", "url").alias("url_b"),
            F.lit("exact").alias("source"),
        )
    )
    distinct_pages = norm.select("url", "norm_text").join(
        exact.filter(F.col("is_canonical")).select("url"), "url", "left_semi"
    )
    pair_frames = [exact_pairs]

    if enable_lsh or enable_simhash:
        with tr.span("signatures") as c_sig:
            sig = warm_cache(
                with_signatures(distinct_pages, cfg, include_shingles=False)
                .filter(F.col("n_shingles") > 0)
                .select("url", "minhash", "simhash")
            )
        with tr.span("trace"):
            c_sig["rows"] = sig.count()

    lsh_pairs = None
    if enable_lsh:
        with tr.span("lsh.candidates") as c_cand:
            cand, m = candidate_pairs_lsh(sig, cfg)
            cand = materialize_barrier(cand)
            c_cand["bands_dropped"] = int(m.first()["bands_dropped"] or 0)
        with tr.span("lsh.verify") as c_ver:
            sh = with_shingles(
                distinct_pages.join(_pair_urls(cand), "url", "left_semi"), cfg
            )
            lsh_pairs = materialize_barrier(verify_pairs_jaccard(cand, sh, cfg))
        with tr.span("trace"):
            c_cand["candidates"] = n_cand = cand.count()
            c_ver["verified"] = n_ver = lsh_pairs.count()
            c_ver["useful_ratio"] = _ratio(n_ver, n_cand)
        pair_frames.append(
            lsh_pairs.select("url_a", "url_b", F.lit("minhash_lsh").alias("source"))
        )

    if enable_simhash:
        with tr.span("simhash") as c_sim:
            sim, m = candidate_pairs_simhash(sig, cfg)
            c_sim["blocks_dropped"] = int(m.first()["blocks_dropped"] or 0)
            sim = materialize_barrier(sim)
        with tr.span("trace"):
            c_sim["pairs"] = sim.count()
        pair_frames.append(
            sim.select("url_a", "url_b", F.lit("simhash").alias("source"))
        )

    if enable_substr:
        with tr.span("substr.fingerprints"):
            fp = warm_cache(
                with_fingerprints(distinct_pages, cfg).select("url", "fingerprints")
            )
        with tr.span("substr.candidates") as c_scand:
            cand, m = candidate_pairs_substr(fp, cfg)
            c_scand["fingerprints_dropped"] = int(
                m.first()["fingerprints_dropped"] or 0
            )
            if lsh_pairs is not None:
                cand = cand.join(
                    lsh_pairs.select("url_a", "url_b"), ["url_a", "url_b"], "left_anti"
                )
            cand = materialize_barrier(cand)
        with tr.span("substr.verify") as c_sver:
            sub = materialize_barrier(verify_pairs_substr(cand, distinct_pages, cfg))
        with tr.span("trace"):
            c_scand["candidates"] = n_cand = cand.count()
            c_sver["verified"] = n_ver = sub.count()
            c_sver["useful_ratio"] = _ratio(n_ver, n_cand)
        pair_frames.append(
            sub.select("url_a", "url_b", F.lit("substr").alias("source"))
        )

    with tr.span("cc") as c_cc:
        all_pairs = pair_frames[0]
        for pf in pair_frames[1:]:
            all_pairs = all_pairs.unionByName(pf)
        all_pairs = materialize_barrier(all_pairs.dropDuplicates(["url_a", "url_b"]))
        status: dict = {}
        clusters = track_cache(
            assign_clusters(
                norm.select("url"),
                all_pairs.select("url_a", "url_b"),
                cfg,
                status=status,
            )
        )
        clusters.count()
        c_cc["iterations"] = status.get("iterations", 0)
    with tr.span("trace"):
        c_cc["edges"] = all_pairs.count()

    with tr.span("sinks"):
        clusters.write.mode("overwrite").parquet(f"{out_dir}/clusters")
        write_clusters_json(clusters, f"{out_dir}/clusters_json")
    release_caches()
