"""Connected components over candidate pairs (north rule F6).

Two paths, chosen by the caller's edge count (``n_edges``):

* **one-task union-find** — when ``n_edges`` is known and at most
  ``LOCAL_CC_MAX_EDGES``, CC is ONE lazy ``mapInPandas`` over the edges
  coalesced to a single partition: a numpy union-find whose roots are the
  min url of each component emits ``(url, cluster_id)`` directly.  No
  truncations and no joins — the kernel runs inside whatever job consumes
  the result, so CC submits no job of its own.  It keeps no iteration
  state, so ``checkpoint_dir`` does not apply; under a pipeline checkpoint
  dir the clusters snapshot holds its result.
* **large-star / small-star** (below) — above the bound, and whenever
  ``n_edges`` is None.  A graph of unknown size is never funnelled into
  one task: this is the only path that works once the edges outgrow one
  worker, so it stays the default.

The star path alternates the two steps of Kiveris et al. ("Connected
Components in MapReduce and Beyond", SoCC 2014) over the edge set itself,
normalized once to ``(lo, hi) = (least, greatest)`` url and deduplicated:

* large-star: over both orientations ``(u, v)``, every ``v > u`` moves to
  ``m(u) = least(u, min v)`` (a window partitioned by ``u``);
* small-star: each node ``hi`` and its smaller neighbours move to the least
  of those neighbours (a window partitioned by ``hi``).

Both steps keep each component connected and never join: windows,
``distinct`` and ``union`` only scale a plan's size estimate, where a join
multiplies it, and over truncated iterations a multiplied estimate grows
until its arithmetic alone dominates planning.  The large-star window
also counts each node's degree: the graph is a
forest of stars centred on their minimum url exactly when every node with
a smaller neighbour has no other neighbour.  That violation count is an
``observe`` metric of the iteration's own truncation job (zero extra jobs);
at zero the iteration's input is kept (both steps are the identity on
such a forest) and ``cluster_id`` is read straight off its edges: each
leaf points at its centre, each centre at itself.  Cluster ids are the
lexicographic min url, the deterministic first-wins canonical member
(camden keeps element 0 of each group, reference src/operations.rs:50 —
ours is deterministic under any parallelism).  ``cfg.cc_max_iterations``
caps the loop defensively.

Scale notes (star path):

* lineage is truncated every iteration — Catalyst cannot optimize across
  iterations and the plan would otherwise grow exponentially (SURVEY §4.2.3).
  Two truncation modes:
  - default: ``localCheckpoint`` — executor-MEMORY-backed.  Fast, but on a
    real cluster one executor loss mid-CC kills the job with no resume (the
    blocks are not replicated to disk).
  - ``checkpoint_dir=...`` — RELIABLE: per-iteration state is written to
    (and re-read from) parquet under the given directory, which may be any
    Hadoop-visible store (HDFS/S3/GCS).  Executor loss now costs one task
    retry, not the job; this is the 100×-scale mode, the analog of the F9
    snapshot store for the iterative stage (the reference's non-resumable
    move stage, src/operations.rs:52-55, is the failure mode both exist to
    fix).
* a node's whole neighbourhood lands in one window task (an aggregate
  would combine partial minima map-side), so a high-degree node is one
  task's work in every iteration.
* every iteration shuffles the url strings themselves, not fixed-width
  node ids; long keys (document ids, Common-Crawl urls) widen each of the
  iteration's exchanges in proportion.
"""

from __future__ import annotations

import os
import warnings
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, Window

from camden_spark.config import DedupConfig
from camden_spark.plans.caches import materialize_barrier
from camden_spark.plans.metrics import observed

#: edge bound of the one-task union-find path, sized by EDGE count (a big
#: corpus with few near pairs still qualifies; one with many never funnels
#: into one task).  Module-level so tests can monkeypatch it.  At the bound
#: (2^20 edges of ~60-byte urls, one Spark Python worker on a 4-vCPU box):
#: random graph (907k nodes) 4.5 s, chain 3.7 s, worker peak RSS 115 →
#: 483 MB; about 2.2 s of it is the sorted factorize of the url strings.
LOCAL_CC_MAX_EDGES: int = 1 << 20


def _union_find(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: (url_a, url_b) batches of ONE partition →
    (url, cluster_id) for every endpoint, cluster_id = min url of its
    component.  Codes are assigned in url order (Python's code-point order
    is Spark's UTF-8 byte order), so min code == min url: every root hooks
    to the smaller root, and the fixpoint root IS the cluster id."""
    frames = list(batches)
    if not frames:
        return
    edges = pd.concat(frames, ignore_index=True)
    codes, uniques = pd.factorize(
        pd.concat([edges["url_a"], edges["url_b"]], ignore_index=True),
        sort=True,
    )
    a, b = codes[: len(edges)], codes[len(edges):]
    lab = np.arange(len(uniques))
    while True:
        ra, rb = lab[a], lab[b]
        split = ra != rb
        if not split.any():
            break
        # hook the larger root of every split edge to the smaller one ...
        np.minimum.at(lab, np.maximum(ra[split], rb[split]),
                      np.minimum(ra[split], rb[split]))
        # ... then shortcut until every label is a root again
        while True:
            jumped = lab[lab]
            if np.array_equal(jumped, lab):
                break
            lab = jumped
    uniques = np.asarray(uniques, dtype=object)
    yield pd.DataFrame({"url": uniques, "cluster_id": uniques[lab]})


def connected_components(
    edges: DataFrame,
    cfg: DedupConfig | None = None,
    status: dict | None = None,
    checkpoint_dir: str | None = None,
    n_edges: int | None = None,
) -> DataFrame:
    """edges(url_a, url_b) → (url, cluster_id) for every node in an edge.

    cluster_id is the min url of the component.  Nodes not in any edge are
    absent (callers union singletons back with cluster_id = own url).

    ``n_edges``: the caller's count of ``edges`` rows, when it has one for
    free.  At most ``LOCAL_CC_MAX_EDGES`` selects the lazy one-task
    union-find (module docstring); None keeps the star loop.

    Pass ``status`` (a dict) to receive ``{"converged": bool, "iterations":
    int}`` plus, on the star path, ``"checkpoint": "local"|"reliable"``; a
    capped-out run returns possibly-split clusters, so non-convergence warns
    loudly and is surfaced in pipeline metrics instead of passing silently.

    ``checkpoint_dir``: when set, per-iteration edge state is persisted as
    parquet under this directory instead of memory-backed ``localCheckpoint``
    — survives executor loss (see module docstring).  The directory is
    run-scoped scratch: iterations overwrite ``cc_iter_{0,1}`` alternately so
    the footprint stays at two edge tables regardless of iteration count.
    """
    if n_edges is not None and n_edges <= LOCAL_CC_MAX_EDGES:
        if status is not None:
            status.update(converged=True, iterations=1)
        return (
            edges.select("url_a", "url_b")
            .coalesce(1)
            .mapInPandas(_union_find, "url string, cluster_id string")
        )
    cfg = cfg or DedupConfig()

    def truncate(df: DataFrame, name: str) -> DataFrame:
        """Materialize + truncate lineage; the action also collects any
        pending Observation riding ``df``.  Local-mode barriers join the
        cache registry like any other (released once consumers are done
        with the returned frame)."""
        if checkpoint_dir is None:
            return materialize_barrier(df)
        path = os.path.join(checkpoint_dir, name)
        df.write.mode("overwrite").parquet(path)
        return edges.sparkSession.read.parquet(path)

    norm = truncate(
        edges.select(
            F.least("url_a", "url_b").alias("lo"),
            F.greatest("url_a", "url_b").alias("hi"),
        ).distinct(),
        "cc_edges",
    )
    cur = norm.filter(F.col("lo") != F.col("hi"))
    converged = False
    iterations = 0
    for iterations in range(1, cfg.cc_max_iterations + 1):
        # large-star: every larger neighbour v of u moves to m(u), the least
        # of u's closed neighbourhood.  The same window counts u's degree:
        # the graph is a forest of stars centred on their minima exactly when
        # every node with a smaller neighbour has no other neighbour.
        both = cur.union(cur.select("hi", "lo")).toDF("u", "v")
        w = Window.partitionBy("u")
        obs = Observation(f"cc_star_{iterations}")
        large = (
            both.select(
                "u", "v",
                F.least("u", F.min("v").over(w)).alias("m"),
                F.count("v").over(w).alias("deg"),
            )
            .observe(obs, F.count(F.when(
                (F.col("v") < F.col("u")) & (F.col("deg") > 1), True
            )).alias("violations"))
            .filter(F.col("v") > F.col("u"))
            .select(F.col("m").alias("lo"), F.col("v").alias("hi"))
            .distinct()
        )
        # small-star: each hi and its smaller neighbours (the rows of hi's
        # window) move to the least of those neighbours
        small = (
            large.select(
                F.min("lo").over(Window.partitionBy("hi")).alias("lo"),
                F.explode(F.array("lo", "hi")).alias("hi"),
            )
            .filter(F.col("lo") != F.col("hi"))
            .distinct()
        )
        nxt = truncate(small, f"cc_iter_{iterations % 2}")
        metric = observed(obs)
        # None: AQE found the window's input empty and pruned the observer
        # with it.  Both star steps are the identity on a star forest, so
        # the converged iteration's input is kept.
        if metric is None or metric["violations"] == 0:
            converged = True
            break
        cur = nxt
    if not converged:
        warnings.warn(
            f"connected_components hit cc_max_iterations="
            f"{cfg.cc_max_iterations} before the star fixpoint — clusters "
            f"may be split; raise cc_max_iterations",
            RuntimeWarning,
            stacklevel=2,
        )
    if status is not None:
        status["converged"] = converged
        status["iterations"] = iterations
        status["checkpoint"] = "local" if checkpoint_dir is None else "reliable"
    # each leaf points at its centre, each centre at itself; a node seen only
    # in a self-loop keeps its own url (min prefers a centre where it has one)
    return (
        cur.union(norm.filter(F.col("lo") == F.col("hi")))
        .select(F.explode(F.array("lo", "hi")).alias("url"),
                F.col("lo").alias("cluster_id"))
        .groupBy("url")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )


def incremental_clusters(
    prev: DataFrame,
    new_edges: DataFrame,
    cfg: DedupConfig | None = None,
    status: dict | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Merge NEW duplicate pairs into EXISTING cluster assignments — the
    incremental-ingest path: at 10^12 docs the admitted corpus is never
    re-clustered from raw pairs; a new batch's edges land against the stored
    ``(url, cluster_id)`` table.

    Exact algebra, not an approximation: each existing cluster is replayed
    as STAR edges (member → canonical), so the union graph has the same
    connected components as (all old pairs) ∪ (new pairs) — stars are
    spanning trees of the old components.  Output is therefore IDENTICAL to
    batch CC over the full pair set (the property the driver oracle and
    tests assert), while the old clusters contribute diameter ≤ 2
    subgraphs, so iteration count is driven by the new batch alone.

    ``prev``: (url, cluster_id) — prior assignments (singletons may be
    omitted; any url absent from both inputs is simply not emitted).
    ``new_edges``: (url_a, url_b).  Returns (url, cluster_id) over every
    url present in either input, cluster_id = min url of the merged
    component, singletons included with cluster_id = own url.

    Coverage is robust to a ``prev`` table that omits the canonical's own
    (url == cluster_id) row: every ``prev.cluster_id`` is a member url by
    construction, so it is unioned into the output url set explicitly —
    a canonical referenced only by star edges still gets its own row.
    """
    star = prev.filter(F.col("url") != F.col("cluster_id")).select(
        F.col("url").alias("url_a"), F.col("cluster_id").alias("url_b")
    )
    edges = star.unionByName(new_edges.select("url_a", "url_b"))
    all_urls = (
        prev.select("url")
        .unionByName(prev.select(F.col("cluster_id").alias("url")))
        .unionByName(new_edges.select(F.col("url_a").alias("url")))
        .unionByName(new_edges.select(F.col("url_b").alias("url")))
        .distinct()
    )
    return assign_clusters(
        all_urls, edges, cfg, status=status, checkpoint_dir=checkpoint_dir
    ).select("url", "cluster_id")


def assign_clusters(
    all_urls: DataFrame,
    edges: DataFrame,
    cfg: DedupConfig | None = None,
    status: dict | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(url, cluster_id, is_canonical) over ALL urls: component min-url for
    nodes in edges, own url for singletons (camden's singleton groups — kept
    in the map, filtered only by consumers, reference src/scanner.rs:17-49)."""
    comp = connected_components(
        edges, cfg, status=status, checkpoint_dir=checkpoint_dir
    )
    return (
        all_urls.select("url")
        .join(comp, "url", "left")
        .select(
            "url",
            F.coalesce(F.col("cluster_id"), F.col("url")).alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col("url") == F.col("cluster_id"))
    )
