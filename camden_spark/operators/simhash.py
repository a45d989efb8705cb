"""SimHash Hamming-ball candidates via pigeonhole block join (north rule F4).

Two docs within Hamming distance ``radius`` of each other on a 64-bit SimHash
must agree EXACTLY on at least one of ``blocks`` bit-blocks when
``blocks > radius`` (pigeonhole).  So: split the 64-bit signature into
``blocks`` equal blocks, pair the docs sharing a block value, then verify
with the builtin ``bit_count(a ^ b) <= radius`` — all JVM-side, no UDF
anywhere.

The block pairing is ``operators/lsh.capped_key_join``, one keyed pass (its
docstring has the skew story): block-value groups above
``max_simhash_group`` (e.g. the all-zeros block from boilerplate) are
dropped and counted.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation

from camden_spark.config import DedupConfig
from camden_spark.operators.lsh import capped_key_join


def simhash_blocks(sig: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(url, simhash, block, block_val) — one row per (doc, block)."""
    width = cfg.simhash_bits // cfg.simhash_blocks
    mask = (1 << width) - 1
    blocks = F.array(
        *[
            F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(
                F.lit(mask)
            )
            for i in range(cfg.simhash_blocks)
        ]
    )
    return sig.select(
        "url", "simhash", F.posexplode(blocks).alias("block", "block_val")
    )


def candidate_pairs_simhash(
    sig: DataFrame, cfg: DedupConfig | None = None, obs: Observation | None = None
) -> tuple[DataFrame, DataFrame]:
    """Verified Hamming-ball pairs (url_a, url_b, hamming ≤ radius) plus a
    1-row metrics DataFrame (blocks_total, blocks_dropped,
    rows_in_dropped_blocks), also observed into ``obs`` when given."""
    cfg = cfg or DedupConfig()
    joined, metrics = capped_key_join(
        simhash_blocks(sig, cfg),
        ["block", "block_val"],
        cfg.max_simhash_group,
        "blocks",
        obs,
    )
    pairs = (
        joined.select(
            F.col("l.url").alias("url_a"),
            F.col("r.url").alias("url_b"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= cfg.simhash_radius)
        .dropDuplicates(["url_a", "url_b"])
    )
    return pairs, metrics
