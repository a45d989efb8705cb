"""Exact-duplicate stage — camden's entire pipeline, Spark-first.

Reference semantics reproduced here:

* content checksum per row (reference src/scanner.rs:81-95, streaming xxHash64)
  → a single JVM-side column expression, ``sha2(text,256)`` or ``xxhash64`` —
  no UDF, stays inside whole-stage codegen
* group-by-checksum building ``HashMap<u64, Vec<PathBuf>>`` under a mutex
  (reference src/scanner.rs:22-23, 61-63) → shuffle-based hash aggregation /
  window over ``checksum`` — Spark's partial-then-final agg replaces the
  contended shared map entirely
* duplicate filter ``files.len() > 1`` (reference src/reporting.rs:33,
  src/operations.rs:49) → ``cluster_size > 1``
* keep-first / skip-rest within a group (reference src/operations.rs:50,
  ``files.iter().skip(1)``) → ``row_number() == 1`` over an explicit
  ``(url, warc_ts)`` order — deterministic first-wins, unlike the reference's
  thread-race insertion order (src/scanner.rs:62)

At 10^12 rows the grouped relation is kept LONG (one row per url with a
cluster id), never materialized as per-key arrays: ``collect_list`` on a
mega-cluster would concentrate a hot key on one task.  Both windows below
share one hash partitioning on ``checksum`` → a single shuffle, which also
yields ``canon_url``, the group's min (= ``rn == 1``) url: its cluster id.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from camden_spark.config import DedupConfig


def with_checksum(pages: DataFrame, cfg: DedupConfig | None = None) -> DataFrame:
    """Add the content ``checksum`` column (C1).  Hashes RAW text bytes —
    the per-url byte-identical invariant makes this the exact-dup key."""
    cfg = cfg or DedupConfig()
    if cfg.checksum_algo == "sha256":
        checksum = F.sha2(F.col("text").cast("binary"), 256)
    else:  # xxhash64, Spark builtin (seed 42) — faster, not oracle-comparable
        checksum = F.xxhash64(F.col("text")).cast("string")
    return pages.withColumn("checksum", checksum)


def exact_dedup_clusters(
    pages: DataFrame, cfg: DedupConfig | None = None
) -> DataFrame:
    """Full exact-dup clustering: one row per url with
    (url, checksum, cluster_size, rn, canon_url, is_canonical).

    ``rn == 1`` rows are canonical (kept), ``rn > 1`` are duplicates (the
    reference's moved files, src/operations.rs:50).  A precomputed
    ``checksum`` column is used as-is (lets callers fuse hashing with other
    per-row work in one scan).
    """
    cfg = cfg or DedupConfig()
    hashed = (
        pages if "checksum" in pages.columns else with_checksum(pages, cfg)
    ).select("url", "warc_ts", "checksum")
    w_order = Window.partitionBy("checksum").orderBy("url", "warc_ts")
    w_all = Window.partitionBy("checksum")
    return hashed.select(
        "url",
        "checksum",
        F.count("*").over(w_all).cast("long").alias("cluster_size"),
        F.row_number().over(w_order).cast("long").alias("rn"),
        F.min("url").over(w_all).alias("canon_url"),
    ).withColumn("is_canonical", F.col("rn") == F.lit(1))


def duplicate_groups(clusters: DataFrame) -> DataFrame:
    """Groups with >1 member (reference reporting.rs:33 / HAVING count>1),
    long form: (checksum, cluster_size, url, rn)."""
    return clusters.filter(F.col("cluster_size") > 1).select(
        "checksum", "cluster_size", "url", "rn"
    )


def dedup_stats(clusters: DataFrame) -> DataFrame:
    """Single-row summary mirroring the reference's counters:
    total entries (count_entries, src/scanner.rs:13-15), duplicate groups,
    and total duplicates = Σ(len-1) (total_duplicates, src/operations.rs:66-72).
    """
    per_group = (
        clusters.filter(F.col("rn") == 1)  # one row per group
        .select("checksum", "cluster_size")
    )
    return per_group.agg(
        F.sum("cluster_size").cast("long").alias("total_docs"),
        F.count("*").cast("long").alias("total_groups"),
        F.sum(F.when(F.col("cluster_size") > 1, 1).otherwise(0))
        .cast("long")
        .alias("dup_groups"),
        F.sum(F.col("cluster_size") - 1).cast("long").alias("total_duplicates"),
    )


def canonical_pages(pages: DataFrame, cfg: DedupConfig | None = None) -> DataFrame:
    """The A6 'move' sink as a partitioned rewrite: return canonical rows only
    (write this + the complement instead of mutating in place)."""
    clusters = exact_dedup_clusters(pages, cfg)
    keep = clusters.filter(F.col("is_canonical")).select("url")
    # broadcast-free semi join on url (both sides partitioned by url key)
    return pages.join(keep, "url", "left_semi")
