"""Exact-dup stage vs the pure-Python oracle (camden's core semantics:
scan_detects_duplicates, reference src/scanner.rs:110-143)."""

from __future__ import annotations

import pyspark.sql.functions as F

from camden_spark.config import DedupConfig
from camden_spark.operators.exact import (
    canonical_pages,
    dedup_stats,
    duplicate_groups,
    exact_dedup_clusters,
)
from camden_spark import oracle


def test_micro_two_same_one_diff(spark):
    """camden's fixture: a="same", b="same", c="diff" → one dup group."""
    df = spark.createDataFrame(
        [
            ("u/a", "same", "2025-01-01T00:00:00"),
            ("u/b", "same", "2025-01-02T00:00:00"),
            ("u/c", "diff", "2025-01-03T00:00:00"),
        ],
        ["url", "text", "ts"],
    ).withColumn("warc_ts", F.col("ts").cast("timestamp"))
    clusters = exact_dedup_clusters(df).orderBy("url").collect()
    by_url = {r["url"]: r for r in clusters}
    assert by_url["u/a"]["cluster_size"] == 2 and by_url["u/a"]["is_canonical"]
    assert by_url["u/b"]["cluster_size"] == 2 and not by_url["u/b"]["is_canonical"]
    assert by_url["u/c"]["cluster_size"] == 1 and by_url["u/c"]["is_canonical"]
    assert [by_url[u]["canon_url"] for u in ("u/a", "u/b", "u/c")] == [
        "u/a", "u/a", "u/c"
    ]
    # count, row_number and canon_url share one shuffle on checksum
    plan = exact_dedup_clusters(df)._jdf.queryExecution().executedPlan()
    assert plan.toString().count("Exchange ") == 1
    groups = duplicate_groups(exact_dedup_clusters(df)).collect()
    assert {r["url"] for r in groups} == {"u/a", "u/b"}
    stats = dedup_stats(exact_dedup_clusters(df)).first()
    assert stats["total_docs"] == 3
    assert stats["total_groups"] == 2
    assert stats["dup_groups"] == 1
    assert stats["total_duplicates"] == 1  # "moved == 1" analog


def test_corpus_matches_oracle(spark, pages_df, corpus):
    docs = dict(zip(corpus.pages["url"], corpus.pages["text"]))
    expected = oracle.exact_clusters(docs)
    got = exact_dedup_clusters(pages_df).collect()
    groups: dict[str, list[str]] = {}
    for r in got:
        groups.setdefault(r["checksum"], []).append(r["url"])
    assert {h: sorted(v) for h, v in groups.items()} == expected
    # first-wins canonical = min url per group (deterministic version of
    # camden's element-0 keep, operations.rs:50)
    for r in got:
        if r["is_canonical"]:
            assert r["url"] == min(groups[r["checksum"]])


def test_canonical_pages_semi_join(spark, pages_df, corpus):
    docs = dict(zip(corpus.pages["url"], corpus.pages["text"]))
    expected_kept = {min(urls) for urls in oracle.exact_clusters(docs).values()}
    kept = {r["url"] for r in canonical_pages(pages_df).select("url").collect()}
    assert kept == expected_kept


def test_parallelism_invariance(spark, pages_df):
    """Reference's parallel vs sequential invariance (scanner.rs:135-143):
    identical clusters at 1 and default partitions."""
    base = exact_dedup_clusters(pages_df)
    one_part = exact_dedup_clusters(pages_df.repartition(1))
    many = exact_dedup_clusters(pages_df.repartition(16))
    rows = lambda df: sorted(map(tuple, df.collect()))
    assert rows(base) == rows(one_part) == rows(many)


def test_xxhash64_variant(spark, pages_df, corpus):
    cfg = DedupConfig(checksum_algo="xxhash64")
    docs = dict(zip(corpus.pages["url"], corpus.pages["text"]))
    expected_sizes = sorted(
        len(v) for v in oracle.exact_clusters(docs).values()
    )
    got = exact_dedup_clusters(pages_df, cfg)
    sizes = sorted(
        r["cluster_size"]
        for r in got.filter(F.col("rn") == 1).collect()
    )
    assert sizes == expected_sizes
