"""Connected components over candidate pairs (north rule F6).

Two paths, chosen by the caller's edge count (``n_edges``):

* **one-task union-find** — when ``n_edges`` is known and at most
  ``LOCAL_CC_MAX_EDGES``, CC is ONE lazy ``mapInPandas`` over the edges
  coalesced to a single partition: a numpy union-find whose roots are the
  min url of each component emits ``(url, cluster_id)`` directly.  No node
  ids, no collision check, no truncations, no label/url re-join — the
  kernel runs inside whatever job consumes the result, so CC submits no
  job of its own.  It keeps no iteration state, so ``checkpoint_dir`` does
  not apply; under a pipeline checkpoint dir the clusters snapshot holds
  its result.
* **min-label propagation** (below) — above the bound, and whenever
  ``n_edges`` is None.  A graph of unknown size is never funnelled into
  one task: this is the only path that works once the edges outgrow one
  worker, so it stays the default.

Propagation is DataFrame-native min-label propagation with POINTER
JUMPING: every node starts labeled with itself (its url); each iteration
(a) joins labels across edges (both directions) and takes the min neighbor
label, and (b) shortcuts through the label graph
(label(u) ← label(label(u))).  The jump step doubles the distance a label
travels per iteration, so convergence is O(log diameter) instead of
O(diameter) — the same asymptotics as alternating
large-star/small-star (Kiveris et al., "Connected Components in MapReduce and
Beyond"), with a simpler dataflow: labels only ever decrease and stay inside
the component, so the plain-propagation fixpoint argument still applies
verbatim.  Duplicate clusters from similarity joins are near-cliques
(1-2 iterations); the jump matters for substring-containment CHAINS, whose
diameter grows with corpus size.  ``cfg.cc_max_iterations`` caps the loop
defensively.

Scale notes (propagation path):

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
* the convergence check is an ``observe`` metric collected during the
  truncation's own materialization job (the localCheckpoint or the parquet
  write) — zero extra jobs per iteration
* the loop iterates on 8-byte hashed node ids, not url strings: every
  iteration shuffles the full label table (twice: neighbor-min + pointer
  jump), and Common-Crawl urls average ~60-80 bytes — at 10^12 docs that is
  an order of magnitude of needless exchange bytes per iteration.  Node ids
  are ``xxhash64(seed, url)``; a driver-side uniqueness check (one tiny agg
  over the id table) retries with the next seed on collision (p ≈ n²/2^65
  per seed), so ids are injective BY CONSTRUCTION, not by hope.  If EVERY
  seed collides (the birthday regime, node set near 2^32), the loop falls
  back to url-string node ids instead of failing — correct at any scale,
  paying the wider shuffle only where 64-bit ids mathematically cannot
  work.  The
  url→min-url cluster semantics are restored after convergence by ONE
  groupBy(component) → min(url) join — cluster ids remain the lexicographic
  min url, the deterministic first-wins canonical member (camden keeps
  element 0 of each group, reference src/operations.rs:50 — ours is the
  lexicographic minimum, deterministic under any parallelism).
"""

from __future__ import annotations

import os
import warnings
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation

from camden_spark.config import DedupConfig
from camden_spark.plans.caches import materialize_barrier
from camden_spark.plans.metrics import observed

#: seeds tried for injective 64-bit node ids before the url-string fallback
#: (module-level so tests can monkeypatch it to force the fallback path)
ID_SEEDS: tuple[int, ...] = tuple(range(42, 48))

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
    union-find (module docstring); None keeps min-label propagation.

    Pass ``status`` (a dict) to receive ``{"converged": bool, "iterations":
    int, "node_id": "xxhash64"|"url"}`` plus, on the propagation path,
    ``"checkpoint": "local"|"reliable"``; a capped-out run returns
    possibly-split labels, so non-convergence warns loudly and is surfaced in
    pipeline metrics instead of passing silently.

    ``checkpoint_dir``: when set, per-iteration label state is persisted as
    parquet under this directory instead of memory-backed ``localCheckpoint``
    — survives executor loss (see module docstring).  The directory is
    run-scoped scratch: iterations overwrite ``cc_iter_{0,1}`` alternately so
    the footprint stays at two label tables regardless of iteration count.
    """
    if n_edges is not None and n_edges <= LOCAL_CC_MAX_EDGES:
        if status is not None:
            status.update(converged=True, iterations=1, node_id="url")
        return (
            edges.select("url_a", "url_b")
            .coalesce(1)
            .mapInPandas(_union_find, "url string, cluster_id string")
        )
    cfg = cfg or DedupConfig()
    spark = edges.sparkSession

    def truncate(df: DataFrame, name: str) -> DataFrame:
        """Materialize + truncate lineage; the action also collects any
        pending Observation riding ``df``.  Local-mode barriers join the
        cache registry like any other (released once consumers are done
        with the returned frame)."""
        if checkpoint_dir is None:
            return materialize_barrier(df)
        path = os.path.join(checkpoint_dir, name)
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    # --- long node ids (module docstring: labels shuffle 8-byte longs, not
    # url strings).  nid = xxhash64(seed, url) is a pure projection — no join
    # to relabel edges; injectivity is CHECKED (one tiny agg over the node
    # table) and the seed bumped on collision.
    raw_nodes = (
        edges.select(F.col("url_a").alias("url"))
        .union(edges.select(F.col("url_b").alias("url")))
        .distinct()
    )
    nodes = None
    node_id_mode = "xxhash64"
    seed = None
    for seed in ID_SEEDS:
        cand = raw_nodes.withColumn(
            "nid", F.xxhash64(F.lit(seed), F.col("url"))
        )
        cand = truncate(cand, "cc_nodes")
        n_urls, n_ids = cand.agg(
            F.count("*"), F.countDistinct("nid")
        ).first()
        if n_urls == n_ids:
            nodes = cand
            break
    if nodes is not None:
        def nid(col: str, _seed: int = seed) -> F.Column:
            return F.xxhash64(F.lit(_seed), F.col(col))
    else:
        # Seed exhaustion is NOT a fluke at scale: once the node set nears
        # 2^32, birthday collisions are near-certain for EVERY 64-bit seed
        # (p ≈ n²/2^65 per seed), so raising here would make CC unavailable
        # at exactly the scale it was built for.  Fall back to url-string
        # node ids — the loop below is generic over the nid type (joins,
        # min, least, < all work on strings), so correctness holds at any
        # scale; the cost is the wider per-iteration label shuffle the long
        # ids exist to avoid, paid only in the collision regime.
        node_id_mode = "url"
        warnings.warn(
            "connected_components: xxhash64 node ids collided for every "
            "seed in ID_SEEDS (expected only near ~2^32 nodes) — falling "
            "back to url-string node ids (correct, wider shuffle)",
            RuntimeWarning,
            stacklevel=2,
        )
        nodes = truncate(
            raw_nodes.withColumn("nid", F.col("url")), "cc_nodes"
        )

        def nid(col: str) -> F.Column:
            return F.col(col)

    sym = truncate(
        edges.select(nid("url_a").alias("src"), nid("url_b").alias("dst"))
        .union(edges.select(nid("url_b").alias("src"), nid("url_a").alias("dst")))
        .dropDuplicates(["src", "dst"]),
        "cc_edges",
    )
    # identity init straight off the CHECKPOINTED node table: sym carries
    # both edge directions, so distinct(sym.src) == nodes' nid set — the
    # projection costs nothing and saves the init's own distinct exchange
    # + truncation job the previous derivation paid
    labels = nodes.select("nid", F.col("nid").alias("label"))
    converged = False
    iterations = 0
    for _ in range(cfg.cc_max_iterations):
        iterations += 1
        # (a) neighbor labels: for each dst, min label over incoming src labels
        nbr = (
            sym.join(labels.withColumnRenamed("nid", "src"), "src")
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_label"))
            .withColumnRenamed("dst", "nid")
        )
        # (b) pointer jump: label-of-label.  label(u) is always a node of u's
        # component that appears in `labels` (it started as identity and only
        # ever moves to smaller member ids), so the join always matches; the
        # coalesce is belt-and-braces for the left join.
        jump = labels.select(
            F.col("nid").alias("_pj_nid"), F.col("label").alias("_pj_label")
        )
        # the convergence check rides the truncation's materialization job as
        # an observed metric — zero extra jobs per iteration (vs a separate
        # isEmpty/count action)
        obs = Observation(f"cc_changed_{iterations}")
        # iteration 1 runs on IDENTITY labels, where the pointer jump is a
        # provable no-op (label(label(u)) = label(u) = u) — skip its join
        # (and the exchanges/broadcasts it materializes) entirely
        stepped = labels.join(nbr, "nid", "left")
        if iterations > 1:
            stepped = stepped.join(
                jump, F.col("label") == F.col("_pj_nid"), "left"
            )
        else:
            stepped = stepped.withColumn(
                "_pj_label", F.lit(None).cast(labels.schema["label"].dataType)
            )
        stepped = (
            stepped
            .select(
                "nid",
                F.col("label").alias("_old"),
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("nbr_label"), F.col("label")),
                    F.coalesce(F.col("_pj_label"), F.col("label")),
                ).alias("label"),
            )
            .select(
                "nid",
                "label",
                (F.col("label") < F.col("_old")).alias("changed"),
            )
            .observe(
                obs,
                F.coalesce(
                    F.sum(F.col("changed").cast("long")), F.lit(0)
                ).alias("changed"),
            )
        )
        new_labels = truncate(stepped, f"cc_iter_{iterations % 2}")
        m = observed(obs)
        if m is not None:
            converged = m["changed"] == 0
        else:  # defensive: metric not collected — fall back to a scan
            converged = new_labels.filter(F.col("changed")).isEmpty()
        labels = new_labels.drop("changed")
        if converged:
            break
    if not converged:
        warnings.warn(
            f"connected_components hit cc_max_iterations="
            f"{cfg.cc_max_iterations} before the label fixpoint — clusters "
            f"may be split; raise cc_max_iterations",
            RuntimeWarning,
            stacklevel=2,
        )
    if status is not None:
        status["converged"] = converged
        status["iterations"] = iterations
        status["checkpoint"] = "local" if checkpoint_dir is None else "reliable"
        status["node_id"] = node_id_mode
    # restore url-keyed, min-URL cluster semantics: ONE groupBy(component) →
    # min(url) after convergence replaces per-iteration string shuffles
    comp_urls = labels.join(nodes, "nid").select("url", "label")
    canon = comp_urls.groupBy("label").agg(F.min("url").alias("cluster_id"))
    return comp_urls.join(canon, "label").select("url", "cluster_id")


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
