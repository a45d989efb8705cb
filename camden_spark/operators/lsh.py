"""LSH banding over MinHash signatures → verified candidate pairs.

Spark-first layout (north rule F3): the signature array is split into b bands
of r rows; each band is hashed JVM-side (``xxhash64`` over the slice — a
builtin that accepts array columns, so banding never leaves codegen), exploded
to ``(url, band, band_hash)`` rows, and candidates are the pairs of rows that
share a ``(band, band_hash)`` group.

The skew-capped pairing itself is :func:`capped_key_join`, one keyed pass
shared by the text candidate operators (LSH bands, SimHash blocks, substring
fingerprints) and the embedding joins in ``operators/ann.py`` (IVF cells, SRP
buckets).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, Window

from camden_spark.config import DedupConfig
from camden_spark.functions.shingles import jaccard_on_shingles
from camden_spark.plans.caches import materialize_barrier


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
    sharing a key group, as struct columns ``l`` and ``r`` holding the rows'
    columns, with ``l.url < r.url``.  The caller projects and dedupes (a pair
    may share several groups).  Also returns a lazy 1-row metrics frame
    (``{kind}_total``, ``{kind}_dropped``, ``rows_in_dropped_{kind}``).
    The same three sums also fill ``obs`` when given: it rides the keyed
    pass, so they are counted by the join's own job, with no job of their
    own (read them with ``plans.metrics.observed``).

    Skew story (explicit, per the north rule): boilerplate-heavy corpora
    produce mega-groups — a single band key shared by thousands of pages —
    which would turn the pairing into an O(group²) hot task.  One keyed pass
    over ``rows`` therefore (1) repartitions on the keys to 2x the session's
    parallelism — the rows are tiny in BYTES but the pass emits O(group²)
    rows, so AQE's byte-based coalescing alone would run it on 1-2 tasks
    (measured: a 2-task 4.7 s IVF stage at sf0.1) — and, with windows over
    the keys that reuse that partitioning and one sort, numbers and counts
    each group's rows; (2) DROPS groups larger than ``cap`` (counted in the
    metrics, never silent — recall accounting includes them): a window
    collects a group's rows into a list only while the group holds 2 to
    ``cap`` rows, so no list ever holds more than ``cap`` rows and a
    mega-group costs one task O(group) through the window's spillable
    buffer; (3) pairs each row with the rows of its group's list whose url
    is greater.  ``rows`` is read once, through one exchange, with no join,
    no aggregate and no cache, so a Python UDF upstream runs once per row.
    (A ``groupBy`` collecting the lists allocated ~1.5x the bytes: its
    object aggregate falls back to sorting past 128 groups per task.)
    Null keys never match, as in an equi-join.
    """
    n_parts = rows.sparkSession.sparkContext.defaultParallelism * 2
    group = Window.partitionBy(*keys)
    pairable = F.col("_n").between(2, cap)
    for k in keys:
        pairable &= F.col(k).isNotNull()
    counted = (
        rows.repartition(n_parts, *keys)
        .withColumn("_i", F.row_number().over(group.orderBy("url")))
        .withColumn("_n", F.count("*").over(group))
        .withColumn(
            "_m", F.collect_list(F.when(pairable, F.struct(*rows.columns))).over(group)
        )
    )
    first, over = F.col("_i") == 1, F.col("_n") > cap
    stats = [
        F.count_if(first).alias(f"{kind}_total"),
        F.count_if(first & over).alias(f"{kind}_dropped"),
        F.count_if(over).alias(f"rows_in_dropped_{kind}"),
    ]
    metrics = counted.agg(*stats)
    if obs is not None:
        counted = counted.observe(obs, *stats)
    joined = (
        counted.filter(pairable)
        .select(F.struct(*rows.columns).alias("l"), "_m")
        .select(
            "l", F.explode(F.filter("_m", lambda x: x.url > F.col("l.url"))).alias("r")
        )
    )
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
