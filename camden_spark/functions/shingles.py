"""Spark-side signature columns: shingles, MinHash, SimHash.

One vectorized pandas UDF (Arrow batches, reference pattern mandated by the
north rule — no per-row Python) computes all three signatures in a single pass
over each batch so tokenization/shingling cost is paid once.  Everything else
downstream (banding, joins, verification) is JVM-side builtins.
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
from camden_spark.functions.hashing import (
    batch_shingle_hashes,
    minhash_flat,
    simhash_flat,
)

_SIG_SCHEMA = StructType(
    [
        StructField("shingles", ArrayType(LongType()), False),
        StructField("minhash", ArrayType(LongType()), False),
        StructField("simhash", LongType(), False),
    ]
)

_SIG_SCHEMA_NO_SHINGLES = StructType(
    [
        StructField("n_shingles", LongType(), False),
        StructField("minhash", ArrayType(LongType()), False),
        StructField("simhash", LongType(), False),
    ]
)


def _signature_batches(
    cfg: DedupConfig, include_shingles: bool = True
) -> "F.pandas_udf":
    k, perms, seed = cfg.shingle_k, cfg.minhash_perms, cfg.minhash_seed

    # Catalyst cannot prune struct fields out of a UDF's Arrow transfer, so
    # a caller that drops `shingles` right away (the pipeline caches only
    # minhash+simhash) would still ship ~1.6 KB/row of shingle hashes
    # through the worker socket — ~60% of the stage's return bytes.  Large
    # in-flight bursts are also what arms the JVM<->worker socket flow-
    # control stall (see session.py SPARK_GRAFT_ARROW_BATCH note).
    schema = _SIG_SCHEMA if include_shingles else _SIG_SCHEMA_NO_SHINGLES

    @F.pandas_udf(schema)
    def sig_udf(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for texts in it:
            # one flat pass over the whole Arrow batch — no per-token Python
            flat, counts = batch_shingle_hashes(texts, k)
            mh = minhash_flat(flat, counts, perms, seed).view(np.int64)
            sim = simhash_flat(flat, counts).view(np.int64)
            cols = {"minhash": list(mh), "simhash": sim}
            if include_shingles:
                per_doc = np.split(
                    flat.view(np.int64), np.cumsum(counts)[:-1]
                )
                cols = {"shingles": per_doc, **cols}
            else:
                # callers still need the zero-shingle filter (B3 semantics)
                cols = {"n_shingles": counts.astype(np.int64), **cols}
            yield pd.DataFrame(cols)

    return sig_udf


def with_signatures(
    pages: DataFrame,
    cfg: DedupConfig | None = None,
    text_col: str = "norm_text",
    include_shingles: bool = True,
) -> DataFrame:
    """Add ``shingles`` (distinct shingle hashes, array<long>, only when
    ``include_shingles``), ``minhash`` (array<long>, len = cfg.minhash_perms)
    and ``simhash`` (long) columns.  Pass ``include_shingles=False`` when the
    caller only keeps minhash/simhash — struct fields of a UDF result are
    NOT prunable by Catalyst, so opting out saves the Arrow wire bytes."""
    cfg = cfg or DedupConfig()
    udf = _signature_batches(cfg, include_shingles=include_shingles)
    cols = ["minhash", "simhash"]
    cols = (["shingles"] if include_shingles else ["n_shingles"]) + cols
    return pages.withColumn("_sig", udf(F.col(text_col))).select(
        "*", *[F.col(f"_sig.{c}").alias(c) for c in cols]
    ).drop("_sig")


_NONEMPTY_SIG_SCHEMA = StructType(
    [
        StructField("url", StringType(), True),
        StructField("minhash", ArrayType(LongType()), False),
        StructField("simhash", LongType(), False),
    ]
)


def nonempty_signatures(
    pages: DataFrame, cfg: DedupConfig | None = None, text_col: str = "norm_text"
) -> DataFrame:
    """(url, minhash, simhash) for every doc with at least one shingle, from
    ONE Python evaluation per row.

    Zero-shingle docs (empty/whitespace-only after normalization) are
    dropped inside the kernel: they are never near-dups (the
    ``jaccard_on_shingles`` policy) and their sentinel signatures would band
    every empty page together.  Filtering ``with_signatures``'s struct on
    ``n_shingles`` instead lets Catalyst push the filter below the
    projection, which plans the UDF twice (ArrowEvalPython → Filter →
    ArrowEvalPython); a ``mapInPandas`` node is one evaluation."""
    cfg = cfg or DedupConfig()
    k, perms, seed = cfg.shingle_k, cfg.minhash_perms, cfg.minhash_seed

    def sig_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            flat, counts = batch_shingle_hashes(pdf[text_col], k)
            mh = minhash_flat(flat, counts, perms, seed).view(np.int64)
            sim = simhash_flat(flat, counts).view(np.int64)
            keep = counts > 0
            # dtype=object: an all-empty batch must still convert to
            # list<long> (an empty default-dtype column does not)
            yield pd.DataFrame(
                {
                    "url": pdf["url"].to_numpy(dtype=object)[keep],
                    "minhash": pd.Series(list(mh[keep]), dtype=object),
                    "simhash": sim[keep],
                }
            )

    return pages.select("url", text_col).mapInPandas(
        sig_rows, schema=_NONEMPTY_SIG_SCHEMA
    )


def with_shingles(
    pages: DataFrame, cfg: DedupConfig | None = None, text_col: str = "norm_text"
) -> DataFrame:
    """(url, shingles) only — for candidate-pair verification.

    At scale the full corpus's shingle sets are never materialized: the
    pipeline caches just (minhash, simhash) and recomputes shingles for the
    ~few-% of docs that appear in candidate pairs.
    """
    cfg = cfg or DedupConfig()
    k = cfg.shingle_k

    @F.pandas_udf(ArrayType(LongType()))
    def sh_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        from camden_spark.functions.hashing import batch_shingle_hashes

        for texts in it:
            flat, counts = batch_shingle_hashes(texts, k)
            yield pd.Series(
                np.split(flat.view(np.int64), np.cumsum(counts)[:-1])
            )

    return pages.select("url", sh_udf(F.col(text_col)).alias("shingles"))


def jaccard_on_shingles(left: str = "shingles_a", right: str = "shingles_b"):
    """Exact Jaccard of two distinct-shingle-hash arrays — pure JVM builtins
    (array_intersect/array_union), no UDF.  Used to verify candidate pairs.

    Empty-vs-empty is 0.0 BY POLICY: zero-shingle docs (empty/whitespace-only
    after normalization) are never near-duplicates of each other — they
    cluster only via the exact stage when raw bytes match.  (The python
    oracle's ``jaccard`` agrees.)"""
    inter = F.size(F.array_intersect(F.col(left), F.col(right)))
    union = F.size(F.array_union(F.col(left), F.col(right)))
    return F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(
        F.lit(0.0)
    )

