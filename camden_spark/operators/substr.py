"""Substring-overlap candidate pass (north rule F5).

Stage layout:

1. **Fingerprint** — vectorized pandas UDF adds a ``fingerprints`` column of
   winnowed rolling-hash values (functions/substr.py).  Arrow batches only.
2. **Candidate join** — explode fingerprints, equi-self-join on the value
   through ``operators/lsh.capped_key_join`` (its docstring has the skew
   story: mega-group capping + explicit key repartition).
3. **Verify** — ``applyInPandas`` over candidate pairs computes the TRUE
   longest common substring with the suffix-array + Kasai LCP kernel; pairs
   with overlap ≥ cfg.min_overlap_chars survive.  Runs ONLY on candidate
   pairs, never globally — the suffix array sees O(pair text) bytes.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from camden_spark.config import DedupConfig
from camden_spark.operators.lsh import capped_key_join, pair_urls
from camden_spark.plans.caches import track_cache
from camden_spark.functions.substr import (
    batch_winnow,
    longest_common_substring,
)


def with_fingerprints(
    pages: DataFrame, cfg: DedupConfig | None = None, text_col: str = "norm_text"
) -> DataFrame:
    """Add ``fingerprints: array<long>`` (winnowed substring fingerprints)."""
    cfg = cfg or DedupConfig()
    g, w = cfg.substr_ngram, cfg.substr_window

    @F.pandas_udf(ArrayType(LongType()))
    def fp_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for texts in it:
            # one flat pass per Arrow batch — no per-doc Python
            flat, counts = batch_winnow(texts, g, w)
            yield pd.Series(
                np.split(flat.view(np.int64), np.cumsum(counts)[:-1])
            )

    return pages.withColumn("fingerprints", fp_udf(F.col(text_col)))


def candidate_pairs_substr(
    fp: DataFrame, cfg: DedupConfig | None = None
) -> tuple[DataFrame, DataFrame]:
    """Fingerprint-equality candidate pairs (url_a < url_b) + metrics row
    (fingerprints_total, fingerprints_dropped, rows_in_dropped_fingerprints)."""
    cfg = cfg or DedupConfig()
    joined, metrics = capped_key_join(
        fp.select("url", F.explode("fingerprints").alias("fp")),
        ["fp"],
        cfg.max_fingerprint_group,
        "fingerprints",
    )
    pairs = joined.select(
        F.col("l.url").alias("url_a"), F.col("r.url").alias("url_b")
    ).dropDuplicates(["url_a", "url_b"])
    return pairs, metrics


_VERIFY_SCHEMA = StructType(
    [
        StructField("url_a", StringType(), False),
        StructField("url_b", StringType(), False),
        StructField("overlap_chars", LongType(), False),
    ]
)


def verify_pairs_substr(
    pairs: DataFrame,
    pages: DataFrame,
    cfg: DedupConfig | None = None,
    text_col: str = "norm_text",
) -> DataFrame:
    """Suffix-array LCS verification of candidate pairs.

    Texts are joined in (two shuffle joins on url), then pairs are spread
    across partitions by pair hash and verified batch-wise with
    ``mapInPandas`` — each Arrow batch loops pairs in numpy-backed suffix-array
    code (no global structure, memory bounded by batch).
    """
    cfg = cfg or DedupConfig()
    pairs = track_cache(pairs)  # consumed 3x below (url set x2 + the join)
    # prune the corpus to candidate urls before shuffling text bodies
    texts = pages.select("url", F.col(text_col).alias("_t")).join(
        pair_urls(pairs), "url", "left_semi"
    )
    a = texts.select(F.col("url").alias("url_a"), F.col("_t").alias("text_a"))
    b = texts.select(F.col("url").alias("url_b"), F.col("_t").alias("text_b"))
    n_parts = pages.sparkSession.sparkContext.defaultParallelism * 2
    joined = pairs.join(a, "url_a").join(b, "url_b").repartition(
        n_parts, "url_a", "url_b"
    )
    min_overlap = cfg.min_overlap_chars
    min_frac = cfg.min_overlap_frac

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from camden_spark.functions.substr import rolling_hashes

        for pdf in batches:
            # Per-batch memo of screen hash sets keyed (url, threshold): a
            # hub document (one contained by many others) appears in many
            # pairs of the same batch, usually at the same threshold (L
            # saturates at min_overlap for any partner ≥ 2x min_overlap
            # bytes), so its O(n) hash pass runs once, not once per pair.
            # Batch-scoped → memory stays bounded by the Arrow batch.
            memo: dict[tuple[str, int], np.ndarray] = {}

            def screen_hashes(url: str, data: bytes, L: int) -> np.ndarray:
                key = (url, L)
                v = memo.get(key)
                if v is None:
                    v = np.unique(rolling_hashes(data, L))
                    memo[key] = v
                return v

            keep_a, keep_b, lens = [], [], []
            for ua, ub, ta, tb in zip(
                pdf["url_a"], pdf["url_b"], pdf["text_a"], pdf["text_b"]
            ):
                ba = (ta or "").encode()
                bb = (tb or "").encode()
                shorter = min(len(ba), len(bb))
                if shorter == 0:
                    continue
                # the pair passes iff LCS ≥ max(min_overlap, min_frac*shorter);
                # an O(n) rolling-hash screen at exactly that threshold rejects
                # the common case (near-dup candidates with only short shared
                # runs) before the exact suffix-array LCS confirms survivors.
                threshold = max(min_overlap, int(np.ceil(min_frac * shorter)))
                if len(ba) < threshold or len(bb) < threshold:
                    continue
                ha = screen_hashes(ua, ba, threshold)
                hb = screen_hashes(ub, bb, threshold)
                if np.intersect1d(ha, hb, assume_unique=True).shape[0] == 0:
                    continue
                lcs = longest_common_substring(ta or "", tb or "")
                if lcs >= min_overlap and lcs / shorter >= min_frac:
                    keep_a.append(ua)
                    keep_b.append(ub)
                    lens.append(lcs)
            yield pd.DataFrame(
                {
                    "url_a": pd.array(keep_a, dtype="object"),
                    "url_b": pd.array(keep_b, dtype="object"),
                    "overlap_chars": pd.array(lens, dtype="int64"),
                }
            )

    return joined.mapInPandas(verify, schema=_VERIFY_SCHEMA)
