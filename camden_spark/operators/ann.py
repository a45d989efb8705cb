"""Similarity search over embedding columns.

* ``cosine_col`` — JVM-side cosine similarity of two array<float/double>
  columns (zip_with + aggregate builtins; stays in codegen, exact oracle
  parity with DuckDB's list functions after rounding).
* ``brute_force_topk`` — baseline exact top-k: broadcast the (small) query
  set against the corpus, window top-k.  The 100 TB path broadcasts queries,
  never shuffles the corpus.
* ``hyperplane_buckets`` / ``ann_near_dup_pairs`` — the scale path: random
  hyperplane signs (SRP-LSH) bucket the corpus; candidate pairs share a
  bucket id, verified by exact cosine.  Embedding-cosine
  near-duplicate detection = same machinery with a threshold.
* ``train_ivf_centroids`` / ``ivf_topk`` — the second scale path: an IVF
  (inverted-file) index.  A spherical-k-means coarse quantizer (trained on a
  bounded driver sample) assigns each corpus vector to one cell; queries
  probe their n_probe nearest cells, so search cost scales with
  n_probe/n_cells of the corpus.  n_probe = n_cells degenerates to exact
  brute force — used to hash-verify the machinery against the DuckDB oracle.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql.types import LongType

from camden_spark.operators.lsh import capped_key_join

#: Quantizer training-sample bound, and so the most cells k-means can emit:
#: the default of both ``train_ivf_centroids(sample_rows)`` and
#: ``auto_ivf_params(max_cells)``.
IVF_SAMPLE_ROWS = 20_000


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_col(a: Column, b: Column) -> Column:
    """Cosine similarity, double precision, JVM-side.

    Optimization note (round 7): an expanded fixed-width sum-of-products
    twin of ``_dot`` was prototyped and benchmarked for the pair-verify
    stages; with norms precomputed per vector (see :func:`_with_norm`) the
    interpreted fold is FASTER end to end (2.9 s vs 6.4 s on the sf0.1 IVF
    verify) — the expanded 64-term tree bloats analysis/codegen and its
    per-row GetArrayItem chain beats nothing once only ONE dot per pair
    remains.  Measured, so the fold stays."""
    num = _dot(a, b)
    den = F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b))
    return F.when(den > 0, num / den).otherwise(F.lit(0.0))


def _with_norm(
    vectors: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(id, vec, _nrm) — the vector L2 norm computed ONCE PER VECTOR before
    any pair join.  ``sqrt(dot(a,a)) * sqrt(dot(b,b))`` is the same doubles
    whether the two sqrt factors are computed per pair or carried on the
    row, so verify stages pay O(dim) per VECTOR for norms and O(dim) per
    PAIR only for the numerator (was 3 dots per pair).  Norms use the plain
    interpreted fold on purpose: their cost is row-count-bound (tiny next
    to the pair count) and the expanded fixed-width expression would only
    bloat plan/codegen time here (measured +1-2 s of driver overhead per
    query when all three dot instances were expanded)."""
    return vectors.select(
        F.col(id_col),
        F.col(vec_col),
        F.sqrt(_dot(F.col(vec_col), F.col(vec_col))).alias("_nrm"),
    )


def _pair_cosine() -> Column:
    """round(cosine, 6) over (_va, _nrm_a, _vb, _nrm_b) pair rows — identical
    arithmetic to ``round(cosine_col(_va, _vb), 6)``: den = _nrm_a * _nrm_b
    multiplies the same two sqrt values the per-pair form would, and the
    numerator is the same fold, so the doubles are bit-identical while the
    per-pair cost drops from 3 dots to 1."""
    den = F.col("_nrm_a") * F.col("_nrm_b")
    num = _dot(F.col("_va"), F.col("_vb"))
    return F.round(F.when(den > 0, num / den).otherwise(F.lit(0.0)), 6)


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query (excluding self).

    (query_id, vec_id, cosine_sim, rank).  ``queries`` is broadcast — the
    corpus is scanned once with no shuffle until the final per-query top-k.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.sqrt(_dot(F.col(vec_col), F.col(vec_col))).alias("_nq"),
    )
    v = vectors.select(
        F.col(id_col),
        F.col(vec_col),
        F.sqrt(_dot(F.col(vec_col), F.col(vec_col))).alias("_nv"),
    )
    # norms ride the rows (O(dim) per VECTOR, not per pair); den = _nq * _nv
    # multiplies the same sqrt doubles the per-pair cosine_col form would
    den = F.col("_nq") * F.col("_nv")
    num = _dot(F.col("q_vec"), F.col(vec_col))
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .withColumn(
            "cosine_sim",
            F.round(F.when(den > 0, num / den).otherwise(F.lit(0.0)), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine_sim", "rank")
    )


def hyperplane_buckets(
    vectors: DataFrame,
    dim: int,
    n_planes: int = 16,
    n_tables: int = 4,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """Add (table, bucket) rows via signed random projections.

    One vectorized pandas UDF computes all tables' buckets per batch with a
    single numpy matmul, and its array is posexploded in the same
    projection, so the plan evaluates the UDF once (a separate
    ``withColumn`` of the array would plan it twice per union branch).
    ``capped_key_join`` reads the rows once, so the UDF runs once per
    vector with no cache.
    """
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((n_tables, n_planes, dim)).astype(np.float64)
    weights = (1 << np.arange(n_planes, dtype=np.uint64)).astype(np.uint64)

    @F.pandas_udf("array<long>")
    def bucket_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for vecs in it:
            M = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in vecs]
            )  # (n, dim)
            out = np.empty((M.shape[0], n_tables), dtype=np.int64)
            for t in range(n_tables):
                signs = (M @ planes[t].T) > 0  # (n, n_planes)
                out[:, t] = (signs.astype(np.uint64) * weights).sum(
                    axis=1, dtype=np.uint64
                ).view(np.int64)
            yield pd.Series(list(out))

    return vectors.select(
        "*", F.posexplode(bucket_udf(F.col(vec_col))).alias("table", "bucket")
    )


# --------------------------------------------------------------------------
# IVF (inverted-file) index — the k-means-bucketed scale path
# --------------------------------------------------------------------------

def _spherical_kmeans(
    X: np.ndarray, n_cells: int, seed: int = 42, iters: int = 10
) -> np.ndarray:
    """Spherical k-means (cosine argmax assignment, re-normalized centroids)
    on a driver-side sample — the standard IVF coarse-quantizer training.
    Pure numpy, deterministic under the seed."""
    rng = np.random.RandomState(seed)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    if n_cells > X.shape[0]:
        # surfaced, never silent (round-7 advisor fix): a clamp here means
        # the caller requested more cells than the training sample can
        # support — probe ratios derived from the REQUESTED count would be
        # wrong (see auto_ivf_params.max_cells)
        import warnings

        warnings.warn(
            f"_spherical_kmeans: n_cells={n_cells} exceeds the training "
            f"sample ({X.shape[0]} rows) — clamping to {X.shape[0]}; "
            "derive n_probe from the clamped count (auto_ivf_params "
            "max_cells) or raise sample_rows",
            RuntimeWarning,
            stacklevel=2,
        )
    n_cells = min(n_cells, X.shape[0])
    C = X[rng.choice(X.shape[0], size=n_cells, replace=False)]
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for c in range(n_cells):
            members = X[assign == c]
            if members.shape[0]:
                C[c] = members.mean(axis=0)
            else:  # empty cell: re-seed from a random point
                C[c] = X[rng.randint(X.shape[0])]
        C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    return C


def auto_ivf_params(
    n_rows: int, max_cells: int = IVF_SAMPLE_ROWS
) -> tuple[int, int]:
    """Corpus-size-scaled IVF operating point: ``n_cells ≈ 1.4·√n`` (the
    √n rule every IVF library documents — cells stay O(√n) rows so the
    per-cell self-join stays O(n) candidate pairs total), ``n_probe ≈
    n_cells/8`` with a floor of 6 (measured on the synthetic near-UNIFORM
    embeddings — IVF's worst case, where probed cells don't concentrate;
    clustered real-world embeddings need far lower probe ratios).

    Measured on the round-6 testdata (recall vs full-corpus brute-force
    cosine at threshold 0.4): n=500 → (31, 6) recall 1.0; n=2000 → (63, 8)
    recall 0.985 at ~2× less wall than the previous fixed (16, 4) point,
    whose 4-of-16 probe ratio made a random pair share a cell with
    probability ≈1 — all-pairs with extra steps beyond ~1k rows.

    ``max_cells`` pins the request to the trainer's sample bound (round-7
    advisor fix): k-means can produce at most ``sample_rows`` distinct
    centroids, and for n ≳ 2·10⁸ the unclamped 1.4·√n exceeded the
    default 20k sample — ``_spherical_kmeans`` silently clamped the CELL
    count while ``n_probe`` kept scaling with the UNclamped value, so the
    effective probe fraction drifted from 1/8 toward exhaustive (the
    all-pairs cliff this function exists to avoid) at exactly the corpus
    sizes the engine targets.  Clamp FIRST, then derive n_probe.  A caller
    raising ``train_ivf_centroids(sample_rows=...)`` passes the same value
    here; a request above the sample bound raises in the trainer."""
    n_cells = max(8, min(max_cells, round(1.4 * math.sqrt(max(1, n_rows)))))
    n_probe = min(n_cells, max(6, round(n_cells / 8)))
    return n_cells, n_probe


def train_ivf_centroids(
    vectors: DataFrame,
    n_cells: int = 64,
    sample_rows: int = IVF_SAMPLE_ROWS,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Train the coarse quantizer on a BOUNDED driver-side sample (the one
    deliberate collect in this module — quantizer training is a fixed-size
    driver/offline step even at 100 TB).

    Two regimes, split at ``10 * sample_rows``:

    * small / derived inputs (≤ 10× the sample size): plain
      ``orderBy(id).limit`` (TakeOrdered) — layout-INDEPENDENT, so centroids
      are bit-deterministic regardless of how the input was partitioned or
      derived.  The full-scan cost is bounded by the cutoff itself.
    * large corpora: ``.sample(fraction, seed)`` — a stateless per-partition
      Bernoulli filter, NO full-corpus TakeOrdered.  The sampled subset
      (≈ sample_rows rows) is then sorted by id and truncated, so training
      is deterministic for a fixed input layout (Bernoulli keeps/drops each
      row independently, but WHICH rows a partition holds is layout);
      k-means init is seeded on top.

    ``count()`` here is a real job (cheap only when ``vectors`` is a bare
    parquet scan, where footers answer it); for derived inputs it costs one
    pass over the (column-pruned) plan — acceptable for an offline training
    step that runs once per index build.

    Version note (centroid compatibility): the two-regime split (round 4)
    changed WHICH rows train centroids for corpora with
    ``sample_rows < total ≤ 10*sample_rows`` (previously Bernoulli-sampled,
    now deterministic TakeOrdered).  Indexes rebuilt since then can assign
    different cells than assignments persisted by the older trainer — do
    not mix stored cell assignments across trainer versions; rebuild the
    index (centroids + assignments) together.
    """
    if n_cells > sample_rows:
        raise ValueError(
            f"train_ivf_centroids: n_cells={n_cells} exceeds sample_rows="
            f"{sample_rows}; k-means cannot emit more centroids than sampled "
            "rows (pass max_cells=sample_rows to auto_ivf_params)"
        )
    base = vectors.select(id_col, vec_col)
    total = base.count()
    if total > 10 * sample_rows:
        # 1.2x oversample so the post-sample limit almost surely has
        # sample_rows rows to keep (Bernoulli variance at 20k draws ≪ 20%)
        frac = min(1.0, 1.2 * sample_rows / total)
        base = base.sample(fraction=frac, seed=seed)
    pdf = base.orderBy(id_col).limit(sample_rows).toPandas()
    X = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    return _spherical_kmeans(X, n_cells, seed)


def _cell_udf(centroids: np.ndarray, n_probe: int):
    """pandas UDF: n_probe nearest cells per vector (one numpy matmul per
    Arrow batch; centroids ride the closure → task broadcast)."""
    C = centroids.astype(np.float64)
    p = min(n_probe, C.shape[0])

    @F.pandas_udf("array<int>")
    def cells(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for vecs in it:
            if len(vecs) == 0:  # empty Arrow batch: 1-D asarray would crash
                yield pd.Series([], dtype="object")
                continue
            M = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
            norms = np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
            sims = (M / norms) @ C.T  # (n, n_cells)
            if p == 1:
                top = np.argmax(sims, axis=1)[:, None]
            else:
                part = np.argpartition(-sims, p - 1, axis=1)[:, :p]
                order = np.argsort(
                    -np.take_along_axis(sims, part, axis=1), axis=1
                )
                top = np.take_along_axis(part, order, axis=1)
            yield pd.Series(list(top.astype(np.int32)))

    return cells


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 64,
    n_probe: int = 4,
    centroids: np.ndarray | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in their nearest-centroid
    cell; each query probes its ``n_probe`` nearest cells and scores only
    those cells' vectors.  Shuffle is keyed on the cell id — the corpus never
    all-pairs against the query set (brute force scans |V|·|Q|; IVF scans
    ≈ |V|·|Q|·n_probe/n_cells).

    With ``n_probe >= n_cells`` every cell is probed, making the result
    EXACTLY brute-force top-k (each vector scored once via its unique cell) —
    that configuration is driver-hash-verified against the ann_topk oracle;
    reduced-probe recall is asserted in tests.

    The cell join carries NO broadcast hint: for a handful of probe queries
    AQE broadcasts the exploded query side from its measured size; for a
    large query batch (corpus-vs-corpus retrieval) it picks a shuffled
    cell-keyed join instead — the same hint-removal discipline as the
    incremental-ingest dedup path (a hard-coded broadcast of q is a
    scale-killer when |Q|·n_probe outgrows the executors).
    """
    if centroids is None:
        centroids = train_ivf_centroids(
            vectors, n_cells, seed=seed, id_col=id_col, vec_col=vec_col
        )
    v = vectors.select(
        F.col(id_col), F.col(vec_col),
        _cell_udf(centroids, 1)(F.col(vec_col))[0].alias("cell"),
        F.sqrt(_dot(F.col(vec_col), F.col(vec_col))).alias("_nv"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"),
        F.explode(
            _cell_udf(centroids, n_probe)(F.col(vec_col))
        ).alias("cell"),
        F.sqrt(_dot(F.col(vec_col), F.col(vec_col))).alias("_nq"),
    )
    # norms computed per row BEFORE the cell join (bit-identical den, see
    # _with_norm); the per-pair cost is one dot, not 3 folds
    den = F.col("_nq") * F.col("_nv")
    num = _dot(F.col("q_vec"), F.col(vec_col))
    scored = (
        v.join(q, "cell")
        .filter(F.col(id_col) != F.col("query_id"))
        .withColumn(
            "cosine_sim",
            F.round(F.when(den > 0, num / den).otherwise(F.lit(0.0)), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine_sim", "rank")
    )


def ivf_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.4,
    n_cells: int = 64,
    n_probe: int = 4,
    centroids: np.ndarray | None = None,
    max_cell: int = 2000,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    status: dict | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via IVF cells — the scale path for
    MODERATE thresholds, where SRP-LSH degenerates (at cosine 0.4 the
    per-hyperplane collision probability is ~0.63, so random pairs collide
    almost as often as near pairs and bucketing filters nothing).

    Each vector is multi-assigned to its ``n_probe`` nearest cells; candidate
    pairs share a cell, get deduped, then exact-cosine verified.  Oversize
    cells are dropped to cap skew (``operators/lsh.capped_key_join``); pass
    ``status`` (a dict) to receive ``{"cells_total", "cells_dropped",
    "rows_in_dropped_cells"}``: that read runs the cell UDF again in a job
    of its own.  ``capped_key_join`` reads the (id, cell) assignment rows
    once, so the pair query runs the cell UDF once per vector; the payload
    never rides the candidate machinery (see the inline §8-playbook
    note).
    Tuning:
    n_cells ≈ √corpus_size keeps cells bounded; on clustered real-world
    embeddings probed cells concentrate so the candidate mass stays far
    below all-pairs — the synthetic test embeddings are near-uniform (worst
    case), needing n_probe 3-4 for recall ≥ 0.95.
    """
    if centroids is None:
        centroids = train_ivf_centroids(
            vectors, n_cells, seed=seed, id_col=id_col, vec_col=vec_col
        )
    # (id, cell) ONLY — the embedding payload is dropped right after the cell
    # UDF, so the cell-keyed pairing and the pair dedupe shuffle 16-byte id
    # rows instead of dim-wide float arrays (§8 of the optimization playbook:
    # decide on lightweight proxies, re-attach the payload once at the end).
    assign = vectors.select(
        F.col(id_col).alias("url"),
        F.explode(_cell_udf(centroids, n_probe)(F.col(vec_col))).alias("cell"),
    )
    joined, metrics = capped_key_join(assign, ["cell"], max_cell, "cells")
    if status is not None:
        status.update(metrics.first().asDict())
    n_parts = vectors.sparkSession.sparkContext.defaultParallelism * 2
    cand = (
        joined.select(F.col("l.url").alias("id_a"), F.col("r.url").alias("id_b"))
        # pair-keyed repartition: the dedup aggregation and the downstream
        # O(dim)-per-pair verify are CPU-bound on rows whose shuffle bytes
        # (16 B/pair) read as "1 partition" to AQE; the dedup agg reuses
        # this exchange (no extra shuffle)
        .repartition(n_parts, "id_a", "id_b")
        # dedupe BEFORE the exact verify: multi-probe assigns a pair to up
        # to n_probe shared cells — on id pairs only, never payloads
        .dropDuplicates(["id_a", "id_b"])
    )
    # re-attach each side's embedding + precomputed norm (one O(dim) norm
    # per VECTOR; the per-pair verify is a single codegen'd dot product)
    vn = _with_norm(vectors, id_col, vec_col)
    va = vn.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        F.col("_nrm").alias("_nrm_a"),
    )
    vb = vn.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        F.col("_nrm").alias("_nrm_b"),
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine_sim", _pair_cosine())
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def ann_near_dup_pairs(
    vectors: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 16,
    n_tables: int = 4,
    seed: int = 42,
    max_bucket: int = 500,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cosine_sim ≥ threshold)
    via SRP-LSH buckets + exact verify.  The bucket join is text LSH's
    ``operators/lsh.capped_key_join`` (it has the skew story): oversize
    buckets dropped.  The per-vector norm is precomputed once and rides the
    bucket rows, so the verify pays ONE dot per deduped pair
    (bit-identical cosine, see :func:`_with_norm`).

    Shape note (round 7): an id-only candidate join with the embeddings
    re-attached after the dedupe (the ivf_near_dup_pairs §8 shape) was
    measured HERE and reverted — at the high thresholds this operator
    targets the candidate set is near the true-dup set (tiny next to the
    corpus), and the two extra attach joins cost ~1.3 s of fixed stage
    overhead per run for no byte savings that matter.  For moderate
    thresholds / large candidate volumes use ivf_near_dup_pairs, whose
    payload-free candidate machinery IS the measured win."""
    bn = _with_norm(vectors, id_col, vec_col).withColumnRenamed(id_col, "url")
    b = hyperplane_buckets(bn, dim, n_planes, n_tables, seed, vec_col)
    joined, _metrics = capped_key_join(
        b, ["table", "bucket"], max_bucket, "buckets"
    )
    pairs = (
        joined.select(
            F.col("l.url").alias("id_a"),
            F.col("r.url").alias("id_b"),
            F.col(f"l.{vec_col}").alias("_va"),
            F.col(f"r.{vec_col}").alias("_vb"),
            F.col("l._nrm").alias("_nrm_a"),
            F.col("r._nrm").alias("_nrm_b"),
        )
        # dedupe BEFORE the (expensive) exact verify — a pair colliding in up
        # to n_tables buckets must pay the O(dim) cosine exactly once
        # (mirrors ivf_near_dup_pairs; pairs-verified == pairs-emitted)
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("cosine_sim", _pair_cosine())
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )
    return pairs
