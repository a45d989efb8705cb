"""LSH banding over MinHash signatures → verified candidate pairs.

Spark-first layout (north rule F3): the signature array is split into b bands
of r rows; each band is hashed JVM-side (``xxhash64`` over the slice — a
builtin that accepts array columns, so banding never leaves codegen), exploded
to ``(url, band, band_hash)`` rows, and candidates come from a self-equi-join
on ``(band, band_hash)``.

The skew-capped self-join itself is :func:`capped_key_join`, shared by the
text candidate operators (LSH bands, SimHash blocks, substring fingerprints)
and the embedding joins in ``operators/ann.py`` (IVF cells, SRP buckets).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation

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


def capped_key_join(
    rows: DataFrame,
    keys: list[str],
    cap: int,
    kind: str,
    obs: Observation | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Skew-capped self-equi-join of ``rows`` on ``keys``: every pair of rows
    sharing a key group, sides aliased ``l`` and ``r``, with
    ``l.url < r.url``.  The caller projects and dedupes (a pair
    may share several groups).  Also returns a lazy 1-row metrics frame
    (``{kind}_total``, ``{kind}_dropped``, ``rows_in_dropped_{kind}``).
    The same three sums also fill ``obs`` when given: it rides the size
    table, so they are counted while the join's own job builds that cache,
    with no job of their own (read them with ``plans.metrics.observed``).

    Skew story (explicit, per the north rule): boilerplate-heavy corpora
    produce mega-groups — a single band key shared by thousands of pages —
    which would turn the self-join into an O(group²) hot task.  We therefore
    (1) count group sizes with one cached aggregation (one row per distinct
    key; metrics and keep reuse it), (2) DROP groups larger than ``cap``
    (counted in the metrics, never silent — recall accounting includes
    them) along with groups of 1, which cannot pair, (3) prune ``rows`` to
    the kept keys with a semi-join and repartition on the key to 2x the
    session's parallelism — the rows are tiny in BYTES but the join emits
    O(group²) rows, so AQE's byte-based coalescing alone would run it on
    1-2 tasks (measured: a 2-task 4.7 s IVF stage at sf0.1) — and (4) leave
    AQE skew-join splitting on as the second line of defense.

    Caller contract: the size table and both join sides each read ``rows``
    (under AQE the cached size table's scan sits below each side's key
    exchange, so the sides share no exchange).  When ``rows`` come from a
    Python UDF, hand in a frame derived from a cached one, so the UDF runs
    once per row and each read is a codegen'd scan or explode.
    """
    sized = rows.groupBy(*keys).agg(F.count("*").alias("_n"))
    over = F.col("_n") > cap
    stats = [
        F.count("*").cast("long").alias(f"{kind}_total"),
        F.sum(over.cast("long")).alias(f"{kind}_dropped"),
        F.sum(F.when(over, F.col("_n")).otherwise(0))
        .cast("long")
        .alias(f"rows_in_dropped_{kind}"),
    ]
    if obs is not None:
        sized = sized.observe(obs, *stats)
    sized = track_cache(sized)
    metrics = sized.agg(*stats)
    keep = sized.filter((F.col("_n") > 1) & ~over).select(*keys)
    n_parts = rows.sparkSession.sparkContext.defaultParallelism * 2
    joinable = rows.join(keep, keys, "left_semi").repartition(n_parts, *keys)
    left, right = joinable.alias("l"), joinable.alias("r")
    on = [F.col(f"l.{k}") == F.col(f"r.{k}") for k in keys]
    joined = left.join(right, on=on + [F.col("l.url") < F.col("r.url")])
    return joined, metrics


def candidate_pairs_lsh(
    sig: DataFrame, cfg: DedupConfig | None = None, obs: Observation | None = None
) -> tuple[DataFrame, DataFrame]:
    """LSH candidate pairs (url_a < url_b), plus a 1-row metrics DataFrame
    (bands_total, bands_dropped, rows_in_dropped_bands), also observed into
    ``obs`` when given (``capped_key_join``).

    ``sig`` must carry ``url`` and ``minhash``.
    """
    cfg = cfg or DedupConfig()
    # defense-in-depth: drop sentinel signatures of zero-shingle docs (empty
    # pages must not band together; see jaccard_on_shingles policy).  A real
    # signature collides with the sentinel w.p. 2^-63 per doc.
    from camden_spark.functions.hashing import EMPTY_SIG_SLOT

    sig = sig.filter(F.col("minhash")[0] != F.lit(EMPTY_SIG_SLOT))
    joined, metrics = capped_key_join(
        band_hashes(sig, cfg),
        ["band", "band_hash"],
        cfg.max_band_group,
        "bands",
        obs,
    )
    pairs = joined.select(
        F.col("l.url").alias("url_a"), F.col("r.url").alias("url_b")
    ).dropDuplicates(["url_a", "url_b"])
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
