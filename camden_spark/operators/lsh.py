"""LSH banding over MinHash signatures → verified candidate pairs.

Spark-first layout (north rule F3): the signature array is split into b bands
of r rows; each band is hashed JVM-side (``xxhash64`` over the slice — a
builtin that accepts array columns, so banding never leaves codegen), exploded
to ``(url, band, band_hash)`` rows, and candidates come from a self-equi-join
on ``(band, band_hash)``.

Skew story (explicit, per the north rule): boilerplate-heavy corpora produce
mega-bands — a single band key shared by thousands of pages — which would turn
the self-join into an O(group²) hot task.  We therefore (1) count band-group
sizes with one aggregation, (2) DROP groups larger than ``cfg.max_band_group``
(surfaced in the returned metrics, never silent — recall accounting includes
them), (3) repartition on the band key before the join, and (4) leave AQE
skew-join splitting on as the second line of defense.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from camden_spark.config import DedupConfig
from camden_spark.functions.shingles import jaccard_on_shingles
from camden_spark.plans.caches import materialize_barrier, track_cache


def band_hashes(sig: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(url, band, band_hash) — one row per (doc, band).

    band_hash = xxhash64(band_index, minhash[band*r : band*r+r]) — computed as
    an array literal of per-band hashes then posexploded (single projection,
    no UDF).
    """
    r = cfg.lsh_rows
    bands = F.array(
        *[
            F.xxhash64(F.lit(i), F.slice("minhash", i * r + 1, r))
            for i in range(cfg.lsh_bands)
        ]
    )
    return sig.select("url", F.posexplode(bands).alias("band", "band_hash"))


def candidate_pairs_lsh(
    sig: DataFrame, cfg: DedupConfig | None = None
) -> tuple[DataFrame, DataFrame]:
    """LSH candidate pairs (url_a < url_b), plus a 1-row metrics DataFrame
    (bands_total, bands_dropped, docs_in_dropped_bands).

    ``sig`` must carry ``url`` and ``minhash``.
    """
    cfg = cfg or DedupConfig()
    # defense-in-depth: drop sentinel signatures of zero-shingle docs (empty
    # pages must not band together; see jaccard_on_shingles policy).  A real
    # signature collides with the sentinel w.p. 2^-63 per doc.
    from camden_spark.functions.hashing import EMPTY_SIG_SLOT

    sig = sig.filter(F.col("minhash")[0] != F.lit(EMPTY_SIG_SLOT))
    bands = band_hashes(sig, cfg)

    # one aggregation computes group sizes; groups of 1 can't produce pairs,
    # groups above the cap are dropped mega-bands (boilerplate skew).
    sized = track_cache(
        bands.groupBy("band", "band_hash").agg(
            F.count("*").alias("band_group_size")
        )
    )  # tiny (one row per distinct band key); metrics + keep reuse it
    metrics = sized.agg(
        F.count("*").cast("long").alias("bands_total"),
        F.sum(
            (F.col("band_group_size") > cfg.max_band_group).cast("long")
        ).alias("bands_dropped"),
        F.sum(
            F.when(
                F.col("band_group_size") > cfg.max_band_group,
                F.col("band_group_size"),
            ).otherwise(0)
        ).cast("long").alias("docs_in_dropped_bands"),
    )
    keep = sized.filter(
        (F.col("band_group_size") > 1)
        & (F.col("band_group_size") <= cfg.max_band_group)
    ).select("band", "band_hash")

    # semi-join prunes the exploded relation to joinable bands, then the
    # self-equi-join runs on an explicit band-key repartition sized to the
    # session's parallelism (cfg.band_partitions=0 → 2x defaultParallelism)
    n_parts = cfg.band_partitions or sig.sparkSession.sparkContext.defaultParallelism * 2
    joinable = bands.join(keep, ["band", "band_hash"], "left_semi").repartition(
        n_parts, "band", "band_hash"
    )
    left = joinable.alias("l")
    right = joinable.alias("r")
    pairs = (
        left.join(
            right,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.band_hash") == F.col("r.band_hash"),
                F.col("l.url") < F.col("r.url"),
            ],
        )
        .select(F.col("l.url").alias("url_a"), F.col("r.url").alias("url_b"))
        .dropDuplicates(["url_a", "url_b"])
    )
    return pairs, metrics


def pair_urls(pairs: DataFrame) -> DataFrame:
    """Distinct ``url`` of either side of a (url_a, url_b) pair set — the
    semi-join key that prunes a corpus-wide table to the candidates before
    a wide column (shingle arrays, text bodies) rides an exchange."""
    return (
        pairs.select(F.col("url_a").alias("url"))
        .union(pairs.select(F.col("url_b").alias("url")))
        .distinct()
    )


def verify_pairs_jaccard(
    pairs: DataFrame, sh: DataFrame, cfg: DedupConfig | None = None
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs against the distinct
    shingle sets — JVM-side array_intersect/array_union, no UDF.

    ``sh`` carries ``(url, shingles)``.  The caller prunes it to
    ``pair_urls(pairs)`` BEFORE shingling, so the full corpus's shingle
    arrays are never computed or shuffled for a small pair set; an unpruned
    ``sh`` gives the same rows, it only moves more bytes.

    Returns (url_a, url_b, jaccard) for pairs ≥ cfg.jaccard_threshold.
    """
    cfg = cfg or DedupConfig()
    # barrier, not bare lazy reuse: sh is joined TWICE below (side a and
    # side b) and AQE materializes the two join branches as concurrent
    # jobs — cold, they each recompute the shingle subtree (the duplicated
    # ~108 MB Arrow stages measured on the multi-executor scaling legs).
    # sh is pair-pruned, i.e. orders of magnitude smaller than the corpus,
    # which is exactly materialize_barrier's intended size class.
    sh = materialize_barrier(sh.select("url", "shingles"))
    a = sh.select(
        F.col("url").alias("url_a"), F.col("shingles").alias("shingles_a")
    )
    b = sh.select(
        F.col("url").alias("url_b"), F.col("shingles").alias("shingles_b")
    )
    return (
        pairs.join(a, "url_a")
        .join(b, "url_b")
        .withColumn("jaccard", jaccard_on_shingles())
        .filter(F.col("jaccard") >= cfg.jaccard_threshold)
        .select("url_a", "url_b", "jaccard")
    )
