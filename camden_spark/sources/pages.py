"""Sources: load the ``pages`` relation.

Replaces the reference's recursive directory scan (reference
src/scanner.rs:26-33, WalkDir + extension filter) with declarative table scans:
Catalyst pushes filters and prunes columns down to the parquet reader, and at
production scale an Iceberg catalog replaces directory listing with manifest
pruning.  ``load_pages`` prefers Iceberg when the runtime is present and falls
back to parquet snapshot directories (the sandbox stand-in).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

#: epoch seconds of 2025-01-01T00:00:00Z — base for the deterministic
#: warc_ts derivation shared with the DuckDB oracle SQL.
_BASE_EPOCH = 1735689600


def load_pages(spark: SparkSession, path: str) -> DataFrame:
    """Load a pages table.

    ``path`` may be an Iceberg table identifier (``iceberg:db.pages``) when an
    Iceberg catalog is configured, or a directory containing ``pages.parquet``,
    or a parquet file/dir itself.
    """
    if path.startswith("iceberg:"):
        return spark.read.format("iceberg").load(path[len("iceberg:") :])
    pq = os.path.join(path, "pages.parquet")
    if os.path.exists(pq):
        return spark.read.parquet(pq)
    return spark.read.parquet(path)


def pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive a deterministic ``pages`` view from the driver's ``documents``
    table (doc_id, text, lang, source, n_chars).

    The mapping is pinned (url template + warc_ts = base + doc_id seconds) and
    mirrored verbatim in the DuckDB oracle SQL, so both sides see identical
    rows.  ``html`` is a deterministic wrapper of text — content is hashed,
    never parsed (same as the reference, which only ever streams bytes,
    reference src/scanner.rs:84-93).
    """
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return docs.select(
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example/"),
            F.col("lang"),
            F.lit("/doc"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.timestamp_seconds(F.lit(_BASE_EPOCH) + F.col("doc_id")).alias("warc_ts"),
        F.concat(
            F.lit("<html><body>"), F.col("text"), F.lit("</body></html>")
        ).cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def normalize_pages(
    pages: DataFrame, lowercase: bool = True, collapse_ws: bool = True
) -> DataFrame:
    """Text normalization ahead of hashing/shingling, JVM-side (no UDF).

    Adds ``norm_text`` and ``n_chars``.  The exact-dup stage hashes the RAW
    text (byte-identical per the north rule invariant); near-dup stages use
    ``norm_text``.
    """
    col = F.col("text")
    if lowercase:
        col = F.lower(col)
    if collapse_ws:
        col = F.trim(F.regexp_replace(col, r"\s+", " "))
    return pages.withColumn("norm_text", col).withColumn(
        "n_chars", F.length("text").cast("long")
    )
