"""Near-dup stage tests: LSH, SimHash, substring, connected components,
and full-pipeline recall ≥ 0.99 against planted ground truth."""

from __future__ import annotations

import threading

import pyspark.sql.functions as F
import pytest

from camden_spark.config import DedupConfig
from camden_spark.functions.shingles import nonempty_signatures, with_signatures
from camden_spark.operators.components import assign_clusters, connected_components
from camden_spark.operators.lsh import candidate_pairs_lsh, pair_urls, verify_pairs_jaccard
from camden_spark.operators.simhash import candidate_pairs_simhash
from camden_spark.operators.substr import (
    candidate_pairs_substr,
    verify_pairs_substr,
    with_fingerprints,
)
from camden_spark.plans.pipeline import DedupPipeline, PipelineResult
from camden_spark.sources.pages import normalize_pages
from camden_spark import oracle

CFG = DedupConfig()


@pytest.fixture(scope="module")
def sig_df(spark, pages_df):
    norm = normalize_pages(pages_df)
    sig = with_signatures(norm, CFG).select("url", "shingles", "minhash", "simhash")
    sig.cache().count()
    return sig


def test_signatures_shape(sig_df):
    row = sig_df.first()
    assert len(row["minhash"]) == CFG.minhash_perms
    assert isinstance(row["simhash"], int)
    assert len(row["shingles"]) > 0


def test_signatures_deterministic(spark, pages_df):
    norm = normalize_pages(pages_df)
    a = with_signatures(norm, CFG).select("url", "minhash").collect()
    b = with_signatures(norm.repartition(7), CFG).select("url", "minhash").collect()
    assert sorted((r["url"], tuple(r["minhash"])) for r in a) == sorted(
        (r["url"], tuple(r["minhash"])) for r in b
    )


def test_lsh_finds_planted_near_dups(sig_df, corpus):
    pairs, metrics = candidate_pairs_lsh(sig_df, CFG)
    verified = verify_pairs_jaccard(pairs, sig_df, CFG)
    rows = sorted(map(tuple, verified.collect()))
    found = {(a, b) for a, b, _ in rows}
    # the verify contract: shingles pruned to the pair urls give the same
    # (url_a, url_b, jaccard) rows as the full signature table
    pruned = sig_df.join(pair_urls(pairs), "url", "left_semi")
    assert pruned.count() < sig_df.count()
    verified_pruned = verify_pairs_jaccard(pairs, pruned, CFG)
    assert sorted(map(tuple, verified_pruned.collect())) == rows
    docs = dict(zip(corpus.pages["url"], corpus.pages["text"]))
    truth = oracle.jaccard_pairs(docs, CFG.shingle_k, CFG.jaccard_threshold)
    # recall on true high-Jaccard pairs
    assert truth, "corpus should contain high-Jaccard pairs"
    recall = len(found & truth) / len(truth)
    assert recall >= 0.95, f"LSH recall {recall}"
    # verification is exact → no false positives vs the same threshold
    assert found <= truth | {p for p in found if p in truth} or all(
        p in truth for p in found
    )
    m = metrics.first()
    assert m["bands_total"] > 0


def test_simhash_finds_char_perturbed_pairs(sig_df, corpus):
    pairs, _ = candidate_pairs_simhash(sig_df, CFG)
    found = {(r["url_a"], r["url_b"]) for r in pairs.collect()}
    # verify Hamming property holds for all reported pairs
    for r in pairs.collect():
        assert r["hamming"] <= CFG.simhash_radius
    assert isinstance(found, set)


def test_substr_finds_containment_pairs(spark, pages_df, corpus):
    norm = normalize_pages(pages_df)
    fp = with_fingerprints(norm, CFG)
    cand, _ = candidate_pairs_substr(fp, CFG)
    verified = verify_pairs_substr(cand, norm, CFG)
    found = {(r["url_a"], r["url_b"]) for r in verified.collect()}
    docs = dict(zip(corpus.pages["url"], corpus.pages["text"]))
    truth = oracle.substring_pairs(
        docs, CFG.min_overlap_chars, CFG.min_overlap_frac
    )
    assert truth, "corpus should contain substring-overlap pairs"
    recall = len(found & truth) / len(truth)
    assert recall >= 0.95, f"substr recall {recall}"
    # verified overlaps must be genuine
    for p in found:
        assert p in truth


def test_connected_components_chain(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("s", "s")], ["url_a", "url_b"]
    )
    comp = {r["url"]: r["cluster_id"] for r in connected_components(edges).collect()}
    assert comp == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "s": "s"}


def test_connected_components_nonconvergence_is_loud(spark):
    """A path graph longer than cc_max_iterations must set converged=False
    and warn — capped-out CC returns split labels and must never be silent."""
    import warnings as _warnings

    from camden_spark.config import DedupConfig

    n = 12
    nodes = [f"n{i:03d}" for i in range(n)]
    edges = spark.createDataFrame(
        [(nodes[i], nodes[i + 1]) for i in range(n - 1)], ["url_a", "url_b"]
    )
    cfg = DedupConfig(cc_max_iterations=2)  # diameter ~11 >> 2
    status: dict = {}
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        connected_components(edges, cfg, status=status).collect()
    assert status["converged"] is False
    assert status["iterations"] == 2
    assert any("cc_max_iterations" in str(w.message) for w in caught)
    # and a sufficient cap converges with the flag set
    status2: dict = {}
    comp = {
        r["url"]: r["cluster_id"]
        for r in connected_components(edges, status=status2).collect()
    }
    assert status2["converged"] is True
    assert set(comp.values()) == {nodes[0]}


@pytest.mark.parametrize("n", [40, 120])
@pytest.mark.parametrize("order", ["sorted", "shuffled"])
def test_connected_components_star_loop_fast_on_chains(spark, n, order):
    """A path graph converges in a few star iterations, far under the n - 1
    plain min-label propagation needs, whether the url order runs along the
    chain or is shuffled over it (measured: 7 / 6 at 40 nodes, 8 / 7 at 120,
    counting the confirming iteration)."""
    import random

    nodes = [f"n{i:03d}" for i in range(n)]
    if order == "shuffled":
        random.Random(n).shuffle(nodes)
    edges = spark.createDataFrame(
        [(nodes[i], nodes[i + 1]) for i in range(n - 1)], ["url_a", "url_b"]
    )
    status: dict = {}
    comp = {
        r["url"]: r["cluster_id"]
        for r in connected_components(edges, status=status).collect()
    }
    assert status["converged"] is True
    assert set(comp.values()) == {min(nodes)}
    assert status["iterations"] <= 12, (
        f"the star loop should converge a {n}-node chain in O(log n) "
        f"iterations, took {status['iterations']}"
    )


def _mixed_graph(spark):
    """~300 nodes: random edges, a 120-node chain and a 40-leaf star, over
    shuffled url names so component minima sit anywhere in the structure."""
    import random

    rng = random.Random(5)
    names = [f"u/{i:03d}" for i in range(300)]
    rng.shuffle(names)
    pairs = [(rng.randrange(100), rng.randrange(100)) for _ in range(90)]
    pairs += [(100 + i, 101 + i) for i in range(119)]
    pairs += [(220, 221 + i) for i in range(40)]
    edges = [(names[a], names[b]) for a, b in pairs]
    return spark.createDataFrame(edges, "url_a string, url_b string"), len(edges)


@pytest.mark.parametrize("mode", ["local", "reliable"])
def test_connected_components_union_find_equals_star_loop(tmp_path, spark, mode):
    """A known small edge count takes the one-task union-find path, with
    the same rows as the star loop, which converges under the default
    iteration cap in both truncation modes.  The local mode runs bounded:
    a loop whose per-iteration planning cost grows would stall there."""
    edges, k = _mixed_graph(spark)
    status: dict = {}
    got = sorted(map(tuple, connected_components(
        edges, status=status, n_edges=k).collect()))
    assert status == {"converged": True, "iterations": 1}
    star: dict = {}
    ckpt = None if mode == "local" else str(tmp_path / "cc")
    out = _run_bounded(lambda: sorted(map(tuple, connected_components(
        edges, status=star, checkpoint_dir=ckpt).collect())))
    assert "error" not in out, out
    assert star["converged"] and star["checkpoint"] == mode
    assert out["result"] == got


def test_connected_components_union_find_submits_no_job(spark):
    """The union-find path is lazy: building it runs no Spark job; its
    kernel runs inside the consumer's job."""
    edges, k = _mixed_graph(spark)
    sc = spark.sparkContext
    sc.setJobGroup("cc-union-find", "union-find CC")
    try:
        comp = connected_components(edges, n_edges=k)
        assert list(sc.statusTracker().getJobIdsForGroup("cc-union-find")) == []
        comp.collect()
        assert list(sc.statusTracker().getJobIdsForGroup("cc-union-find"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_pipeline_runs_union_find_cc_with_unchanged_clusters(
    spark, pages_df, monkeypatch
):
    """The pipeline hands CC its counted edges: a small graph runs the
    union-find path and gives the clusters the star loop gives."""
    from camden_spark.operators import components as C

    res = DedupPipeline(cfg=CFG).run(pages_df)
    got = sorted(map(tuple, res.clusters.collect()))
    assert "checkpoint" not in res.metrics["cc"]
    res.release()
    monkeypatch.setattr(C, "LOCAL_CC_MAX_EDGES", 0)
    star = DedupPipeline(cfg=CFG).run(pages_df)
    want = sorted(map(tuple, star.clusters.collect()))
    assert star.metrics["cc"]["checkpoint"] == "local"
    star.release()
    assert got == want


def test_connected_components_reliable_checkpoint(tmp_path, spark):
    """checkpoint_dir= routes per-iteration state through parquet (the
    executor-loss-safe path): labels identical to the localCheckpoint mode,
    and the state files actually land under the directory."""
    import os as _os

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "r")],
        ["url_a", "url_b"],
    )
    status: dict = {}
    ckpt = str(tmp_path / "cc")
    rel = {
        r["url"]: r["cluster_id"]
        for r in connected_components(
            edges, status=status, checkpoint_dir=ckpt
        ).collect()
    }
    loc = {
        r["url"]: r["cluster_id"]
        for r in connected_components(edges).collect()
    }
    assert rel == loc == {
        "a": "a", "b": "a", "c": "a", "x": "x", "y": "x",
        "p": "p", "q": "p", "r": "p",
    }
    assert status["checkpoint"] == "reliable"
    written = _os.listdir(ckpt)
    assert any(d.startswith("cc_iter") for d in written), written
    assert "cc_edges" in written


def test_empty_docs_never_near_dup(spark):
    """Whitespace-only pages with different raw bytes must not merge in the
    near stages (zero-shingle policy); byte-identical empties still cluster
    via the exact stage."""
    import datetime as _dt

    rows = [
        ("u://a", _dt.datetime(2025, 1, 1), None, "  ", "en"),
        ("u://b", _dt.datetime(2025, 1, 1), None, "\t\t ", "en"),
        ("u://c", _dt.datetime(2025, 1, 1), None, "  ", "en"),  # == a's bytes
        ("u://d", _dt.datetime(2025, 1, 1), None,
         "real content words here for a normal page", "en"),
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    result = DedupPipeline(cfg=CFG).run(df)
    labels = {r["url"]: r["cluster_id"] for r in result.clusters.collect()}
    assert labels["u://a"] == labels["u://c"] == "u://a"  # exact byte dup
    assert labels["u://b"] == "u://b"  # whitespace-only, different bytes
    assert labels["u://d"] == "u://d"


def test_assign_clusters_includes_singletons(spark):
    urls = spark.createDataFrame([("a",), ("b",), ("z",)], ["url"])
    edges = spark.createDataFrame([("a", "b")], ["url_a", "url_b"])
    got = {r["url"]: (r["cluster_id"], r["is_canonical"])
           for r in assign_clusters(urls, edges).collect()}
    assert got == {"a": ("a", True), "b": ("a", False), "z": ("z", True)}


def test_full_pipeline_recall(spark, pages_df, corpus):
    result = DedupPipeline(cfg=CFG).run(pages_df)
    rows = result.clusters.collect()
    labels = {r["url"]: r["cluster_id"] for r in rows}
    truth = corpus.true_pairs()
    hit = sum(1 for a, b in truth if labels[a] == labels[b])
    recall = hit / len(truth)
    assert recall >= 0.99, f"pipeline dup-pair recall {recall}"
    # boilerplate block must NOT merge into one giant cluster:
    # rows outside ground truth should mostly be singletons
    gt_urls = set(corpus.ground_truth["url"])
    non_gt = [r for r in rows if r["url"] not in gt_urls]
    clustered = [r for r in non_gt if r["cluster_id"] != r["url"]]
    assert len(clustered) <= 0.05 * len(non_gt), (
        f"{len(clustered)}/{len(non_gt)} non-dup rows got clustered"
    )
    # every url present exactly once
    assert len(rows) == pages_df.count()


def test_pipeline_parallelism_invariance(spark, pages_df):
    """Same clusters at 1 vs 16 partitions (reference scanner.rs:135-143
    generalization — the sandbox stand-in for N vs 4N executors)."""
    r1 = DedupPipeline(cfg=CFG).run(pages_df.repartition(1))
    r16 = DedupPipeline(cfg=CFG).run(pages_df.repartition(16))
    c1 = sorted(map(tuple, r1.clusters.collect()))
    c16 = sorted(map(tuple, r16.clusters.collect()))
    assert c1 == c16


def test_decontaminate_planted(spark):
    """Planted leakage: corpus doc 10 embeds ALL of benchmark doc 0's text
    (containment 1.0); doc 11 embeds about half of it; doc 12 is unrelated.
    Only the >= 0.5-containment docs are flagged, and the benchmark shingle
    index is broadcast (inverted index, never corpus x benchmark pairs)."""
    import pyspark.sql.functions as F

    from camden_spark.entry_queries import _word_5gram_shingles
    from camden_spark.operators.decontam import decontaminate

    bench_text = " ".join(f"tok{i}" for i in range(20))       # 16 shingles
    half_text = " ".join(f"tok{i}" for i in range(12))        # 8 of them
    rows = [
        (10, "prefix words here " + bench_text + " suffix trailer"),
        (11, "lead in " + half_text + " unrelated tail words continue on"),
        (12, "completely different content with no overlap at all here"),
    ]
    sh = (
        spark.createDataFrame(rows, ["doc_id", "text"])
        .select("doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("t"))
        .select("doc_id", _word_5gram_shingles("t").alias("shingles"))
    )
    bench = (
        spark.createDataFrame([(0, bench_text)], ["bench_id", "text"])
        .select("bench_id", F.split(F.trim(F.lower("text")), r"\s+").alias("t"))
        .select("bench_id", _word_5gram_shingles("t").alias("shingles"))
    )
    out = decontaminate(sh, bench, min_containment=0.5)
    got = {r["doc_id"]: r for r in out.collect()}
    # AQE (not a hard-coded hint) picks broadcast for the tiny bench index;
    # plan read post-collect so the adaptive plan is finalized
    assert "BroadcastHashJoin" in out._jdf.queryExecution().executedPlan().toString()
    assert set(got) == {10, 11}
    assert got[10]["containment"] == 1.0
    assert 0.5 <= got[11]["containment"] < 1.0


def test_incremental_clusters_equals_batch(spark):
    """incremental_clusters(prev, new) == batch CC over old ∪ new pairs for
    an arbitrary split — star edges are spanning trees of old components,
    so the union graph has identical connected components."""
    from camden_spark.operators.components import (
        assign_clusters,
        incremental_clusters,
    )

    all_pairs = [
        ("a", "b"), ("b", "c"), ("d", "e"),      # old evidence
        ("c", "d"), ("f", "g"), ("x", "a"),      # new evidence (merges + new)
    ]
    urls = sorted({u for p in all_pairs for u in p} | {"lone"})
    nodes = spark.createDataFrame([(u,) for u in urls], ["url"])
    old = spark.createDataFrame(all_pairs[:3], ["url_a", "url_b"])
    new = spark.createDataFrame(all_pairs[3:], ["url_a", "url_b"])
    full = spark.createDataFrame(all_pairs, ["url_a", "url_b"])

    prev = assign_clusters(nodes, old).select("url", "cluster_id")
    merged = {
        r["url"]: r["cluster_id"]
        for r in incremental_clusters(prev, new).collect()
    }
    batch = {
        r["url"]: r["cluster_id"]
        for r in assign_clusters(nodes, full).collect()
    }
    assert merged == batch
    assert merged["x"] == "a" and merged["e"] == "a"  # chains merged via new
    assert merged["lone"] == "lone"                   # singleton carried over


def test_incremental_clusters_new_urls_only_in_batch(spark):
    """urls appearing only in the new batch get clustered; prev singletons
    survive; output covers exactly prev ∪ new-edge urls."""
    from camden_spark.operators.components import incremental_clusters

    prev = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("z", "z")], ["url", "cluster_id"]
    )
    new = spark.createDataFrame([("p", "q")], ["url_a", "url_b"])
    got = {r["url"]: r["cluster_id"] for r in incremental_clusters(prev, new).collect()}
    assert got == {"a": "a", "b": "a", "z": "z", "p": "p", "q": "p"}


def test_incremental_clusters_prev_missing_canonical_self_row(spark):
    """A prev table that omits the canonical's own (url == cluster_id) row
    still yields the canonical in the output: prev.cluster_id values are
    member urls by construction and are unioned into the url set."""
    from camden_spark.operators.components import incremental_clusters

    # canonical "a" appears only as a cluster_id, never as a url row
    prev = spark.createDataFrame(
        [("b", "a"), ("c", "a")], ["url", "cluster_id"]
    )
    new = spark.createDataFrame([("c", "d")], ["url_a", "url_b"])
    got = {r["url"]: r["cluster_id"] for r in incremental_clusters(prev, new).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a"}


def _contraction_corpus(spark):
    """Exact groups whose canonical is also in a near pair, plus one url
    whose rows sit in two checksum groups.

    * ``u/b1 == u/b2`` (byte-identical) near-dup ``u/a``: b2 must inherit
      another group's url, ``u/a``;
    * ``u/c1 == u/c2`` near-dup ``u/d``: ``u/d`` inherits ``u/c1``;
    * ``u/i`` is a member of ``{u/h, u/i}`` and the canonical of
      ``{u/i, u/j}``: both groups are one cluster, ``u/h``.
    """
    import datetime as _dt
    import random

    rng = random.Random(7)
    words = [f"w{i}" for i in range(500)]

    def text(n: int = 60) -> str:
        return " ".join(rng.choice(words) for _ in range(n))

    def edit(t: str) -> str:
        toks = t.split()
        toks[len(toks) // 2] = "edited"
        return " ".join(toks)

    t_a, t_c = text(), text()
    ts = _dt.datetime(2025, 1, 1)
    later = _dt.datetime(2025, 1, 2)
    t_h, t_i = text(), text()
    rows = [
        ("u/a", ts, None, t_a, "en"),
        ("u/b1", ts, None, edit(t_a), "en"),
        ("u/b2", ts, None, edit(t_a), "en"),
        ("u/c1", ts, None, t_c, "en"),
        ("u/c2", ts, None, t_c, "en"),
        ("u/d", ts, None, edit(t_c), "en"),
        ("u/h", ts, None, t_h, "en"),
        ("u/i", ts, None, t_h, "en"),
        ("u/i", later, None, t_i, "en"),
        ("u/j", ts, None, t_i, "en"),
    ] + [(f"u/s{k}", ts, None, text(), "en") for k in range(6)]
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    return rows, spark.createDataFrame(rows, schema)


def _exact_stars(rows) -> set:
    """(canonical, member) for every non-first row of each text group."""
    groups: dict[str, list] = {}
    for url, ts, _, text, _ in rows:
        groups.setdefault(text, []).append((url, ts))
    return {
        (min(m)[0], url)
        for m in groups.values()
        for url, _ in sorted(m)[1:]
    }


NEAR_OFF = dict(enable_lsh=False, enable_simhash=False, enable_substr=False)


@pytest.mark.parametrize("flags", [{}, NEAR_OFF], ids=["default", "exact_only"])
def test_pipeline_equals_cc_over_exact_stars_and_near_pairs(spark, flags):
    """The pipeline contracts exact groups out of CC; its clusters must still
    equal CC over every url with exact stars ∪ verified near pairs as edges,
    and its pair set must still carry every exact pair exactly once."""
    rows, df = _contraction_corpus(spark)
    res = DedupPipeline(cfg=CFG, **flags).run(df)
    got = sorted(map(tuple, res.clusters.collect()))
    pairs = [tuple(r) for r in res.pairs.select("url_a", "url_b", "source").collect()]
    counters = res.counters.get()
    stars = _exact_stars(rows)
    near = [(a, b) for a, b, s in pairs if s != "exact"]
    edges = spark.createDataFrame(sorted(stars) + near, "url_a string, url_b string")
    want = sorted(
        map(tuple, assign_clusters(df.select("url"), edges, CFG).collect())
    )
    res.release()
    assert got == want
    labels = dict((u, c) for u, c, _ in got)
    assert labels["u/j"] == "u/h"  # bridged through the shared url u/i
    if not flags:
        assert labels["u/b2"] == "u/a" and labels["u/d"] == "u/c1"
    assert {(a, b) for a, b, s in pairs if s == "exact"} == stars
    assert len({(a, b) for a, b, _ in pairs}) == len(pairs)
    assert counters["pairs_total"] == len(pairs)
    assert counters["clusters_total"] == len(rows)


def test_exact_only_run_skips_cc_and_normalization(spark, pages_df, monkeypatch):
    """With every near stage off and unique urls, clusters are a projection
    of the exact stage: no CC, no normalization, identical output to CC
    over the exact stars."""
    import camden_spark.plans.pipeline as pipeline_mod

    def forbidden(*_args, **_kwargs):
        raise AssertionError("exact-only run must not call this")

    monkeypatch.setattr(pipeline_mod, "connected_components", forbidden)
    monkeypatch.setattr(pipeline_mod, "normalize_pages", forbidden)
    res = DedupPipeline(cfg=CFG, **NEAR_OFF).run(pages_df)
    got = sorted(map(tuple, res.clusters.collect()))
    assert res.metrics["cc"]["iterations"] == 0
    assert res.counters.get()["cc_edges"] == 0
    plan = res.clusters._jdf.queryExecution().executedPlan().toString()
    assert "regexp_replace" not in plan and "lower(" not in plan
    pdf = pages_df.select("url", "warc_ts", "text").toPandas()
    stars = _exact_stars(
        [(u, t, None, x, None) for u, t, x in pdf.itertuples(index=False)]
    )
    edges = spark.createDataFrame(sorted(stars), "url_a string, url_b string")
    want = sorted(
        map(tuple, assign_clusters(pages_df.select("url"), edges, CFG).collect())
    )
    res.release()
    assert got == want


def test_nonempty_signatures_equal_struct_filter(spark, pages_df):
    """The one-pass kernel returns exactly the rows of the struct-filter
    form it replaces, empty and whitespace-only docs dropped."""
    import datetime as _dt

    blanks = spark.createDataFrame(
        [(f"u://blank{i}", _dt.datetime(2025, 1, 1), None, t, "en")
         for i, t in enumerate(["", "   ", "\t\n"])],
        pages_df.schema,
    )
    norm = normalize_pages(pages_df.unionByName(blanks))
    old = (
        with_signatures(norm, CFG, include_shingles=False)
        .filter(F.col("n_shingles") > 0)
        .select("url", "minhash", "simhash")
    )
    new = nonempty_signatures(norm, CFG)
    assert sorted(map(tuple, new.collect())) == sorted(map(tuple, old.collect()))
    assert new.count() == pages_df.count()


def test_pipeline_signature_frame_evaluates_kernel_once(spark, pages_df, monkeypatch):
    """The signature frame the pipeline caches has exactly one Python
    evaluation node; the plan audit flags the struct-filter shape that ran
    the kernel twice per row."""
    import camden_spark.plans.pipeline as pipeline_mod
    from tools.plan_audit import audit, plan_text, python_eval_udfs

    class _Captured(Exception):
        pass

    real_warm = pipeline_mod.warm_cache
    seen = []

    def spy(df):
        if "minhash" in df.columns:
            seen.append(df)
            raise _Captured
        return real_warm(df)

    monkeypatch.setattr(pipeline_mod, "warm_cache", spy)
    with pytest.raises(_Captured):
        DedupPipeline(cfg=CFG).run(pages_df)
    text = plan_text(seen[0])
    assert len(python_eval_udfs(text)) == 1, text
    assert audit("signatures", text) == []
    norm = normalize_pages(pages_df)
    twice = plan_text(
        with_signatures(norm, CFG, include_shingles=False)
        .filter(F.col("n_shingles") > 0)
        .select("url", "minhash", "simhash")
    )
    assert len(python_eval_udfs(twice)) == 2
    assert audit("signatures", twice)


_AQE_PLAN = """== Physical Plan ==
AdaptiveSparkPlan (5)
+- == Final Plan ==
   MapInPandas (2)
   +- Scan (1)
+- == Initial Plan ==
   MapInPandas (4)
   +- Scan (1)


(1) Scan
Output [1]: [t#1]

(2) MapInPandas
Input [1]: [t#1]
Arguments: f(lower(t#1))#9, [u#10], false

(4) MapInPandas
Input [1]: [t#1]
Arguments: f(lower(t#1))#9, [u#10], false
"""


def test_plan_audit_repeated_udf_skips_initial_aqe_plan():
    """An executed AQE plan prints its initial plan next to the final one;
    only nodes of the final plan count as evaluations."""
    from tools.plan_audit import audit, python_eval_udfs

    assert python_eval_udfs(_AQE_PLAN) == [["f#9"]]
    assert audit("q", _AQE_PLAN) == []
    both_final = _AQE_PLAN.replace(
        "+- == Initial Plan ==\n   MapInPandas (4)", "   +- MapInPandas (4)"
    )
    assert python_eval_udfs(both_final) == [["f#9"], ["f#9"]]
    assert audit("q", both_final)


_UNION_PLAN = """== Physical Plan ==
ArrowEvalPython (5)
+- Union (4)
   :- ArrowEvalPython (2)
   :  +- Scan (1)
   +- ArrowEvalPython (3)
      +- Scan (1)


(1) Scan
Output [1]: [embedding#1]

(2) ArrowEvalPython
Input [1]: [embedding#1]
Arguments: [bucket_udf(embedding#1)#18], [pythonUDF0#20], 204

(3) ArrowEvalPython
Input [1]: [embedding#5]
Arguments: [bucket_udf(embedding#5)#18], [pythonUDF0#21], 204

(5) ArrowEvalPython
Input [1]: [pythonUDF0#20]
Arguments: [g(pythonUDF0#20)#30], [pythonUDF1#31], 204
"""

_SELF_JOIN_PLAN = """== Physical Plan ==
SortMergeJoin Inner (7)
:- Sort (3)
:  +- MapInPandas (2)
:     +- Scan (1)
+- Sort (6)
   +- MapInPandas (5)
      +- Scan (4)


(1) Scan
Output [1]: [doc_id#691L]

(2) MapInPandas
Input [1]: [doc_id#691L]
Arguments: synth(doc_id#691L)#697, [media_id#698L], false

(4) Scan
Output [1]: [doc_id#779L]

(5) MapInPandas
Input [1]: [doc_id#779L]
Arguments: synth(doc_id#779L)#697, [media_id#800L], false
"""


def test_plan_audit_repeated_udf_over_union_and_self_join():
    """Union branches share a projected UDF's result id but each evaluates
    it over its own rows: not flagged.  The two sides of a self-join
    evaluate it over the same rows: flagged."""
    from tools.plan_audit import audit, python_eval_udfs, repeated_udf

    assert python_eval_udfs(_UNION_PLAN) == [
        ["bucket_udf#18"], ["bucket_udf#18"], ["g#30"]
    ]
    assert audit("q", _UNION_PLAN) == []
    assert repeated_udf(_SELF_JOIN_PLAN) == "synth#697"
    assert audit("q", _SELF_JOIN_PLAN)


def _run_bounded(fn, timeout_s: float = 300.0) -> dict:
    """Run ``fn`` on a daemon thread; fail if it has not returned in time."""
    out: dict = {}

    def target():
        try:
            out["result"] = fn()
        except Exception as exc:  # noqa: BLE001 - handed to the test
            out["error"] = exc

    t = threading.Thread(target=target, daemon=True)
    t.start()
    t.join(timeout_s)
    assert not t.is_alive(), f"run() did not return within {timeout_s} s"
    return out


@pytest.mark.parametrize(
    "failing,checkpointed",
    [("lsh", False), ("substr", False), ("lsh", True), ("substr", True)],
    ids=["lsh", "substr", "lsh-checkpointed", "substr-checkpointed"],
)
def test_branch_failure_is_reported_without_hanging(
    spark, pages_df, monkeypatch, tmp_path, failing, checkpointed
):
    """A failing branch surfaces as the run's error, named under that
    branch alone, instead of hanging the pool.  Runs with and without a
    checkpoint dir take the same pool path."""
    import camden_spark.plans.pipeline as pipeline_mod

    def boom(*_args, **_kwargs):
        raise ValueError(f"injected {failing} failure")

    target = {"lsh": "candidate_pairs_lsh", "substr": "candidate_pairs_substr"}
    monkeypatch.setattr(pipeline_mod, target[failing], boom)
    ckpt = str(tmp_path) if checkpointed else None
    out = _run_bounded(
        lambda: DedupPipeline(cfg=CFG, checkpoint_dir=ckpt).run(pages_df)
    )
    from camden_spark.plans.caches import release_caches

    release_caches()
    err = out.get("error")
    assert isinstance(err, RuntimeError), out
    msg = str(err)
    assert f"{failing}: ValueError: injected {failing} failure" in msg
    other = {"lsh": "substr", "substr": "lsh"}[failing]
    assert f"{other}:" not in msg and "simhash:" not in msg


def _outputs(res) -> tuple[list, list]:
    """Sorted clusters and (url_a, url_b, source) pairs of a pipeline run."""
    clusters = sorted(map(tuple, res.clusters.collect()))
    pairs = sorted(map(tuple, res.pairs.select("url_a", "url_b", "source").collect()))
    return clusters, pairs


def test_candidate_branches_do_not_wait_on_each_other(spark, pages_df, monkeypatch):
    """The LSH branch blocks in its verify until the substring branch
    reaches its own verify: with no cross-branch wait, substr gets there
    while LSH is still blocked."""
    import camden_spark.plans.pipeline as pipeline_mod

    reached = threading.Event()
    waited = []
    real_jaccard = pipeline_mod.verify_pairs_jaccard
    real_substr = pipeline_mod.verify_pairs_substr

    def blocked_jaccard(*args, **kwargs):
        waited.append(reached.wait(60))
        return real_jaccard(*args, **kwargs)

    def substr(*args, **kwargs):
        reached.set()
        return real_substr(*args, **kwargs)

    monkeypatch.setattr(pipeline_mod, "verify_pairs_jaccard", blocked_jaccard)
    monkeypatch.setattr(pipeline_mod, "verify_pairs_substr", substr)
    out = _run_bounded(lambda: DedupPipeline(cfg=CFG).run(pages_df))
    assert "error" not in out, out
    out["result"].release()
    assert waited == [True]


def test_branch_jobs_carry_the_callers_job_group(spark, pages_df):
    """A job group set around run() tags every job of the run, the branch
    jobs on the pool threads included: each job id from the group's first
    job up to a probe job in a second group belongs to the group."""
    sc = spark.sparkContext
    try:
        sc.setJobGroup("pipeline_run", "pipeline run")
        res = DedupPipeline(cfg=CFG).run(pages_df)
        _outputs(res)
        res.release()
        sc.setJobGroup("pipeline_probe", "probe")
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    grouped = set(tracker.getJobIdsForGroup("pipeline_run"))
    probe = min(tracker.getJobIdsForGroup("pipeline_probe"))
    assert grouped and set(range(min(grouped), probe)) == grouped


def test_resume_from_snapshot_without_lsh_found_substr_pairs(spark, pages_df, tmp_path):
    """A ``substr_pairs`` snapshot that lacks the pairs LSH also found (as
    written when the substring branch skipped them) still resumes to the
    clusters and pairs of a plain run: the LSH pairs cover those rows."""
    import os
    from camden_spark.plans.checkpoint import SnapshotStore

    ckpt = str(tmp_path)
    DedupPipeline(cfg=CFG, checkpoint_dir=ckpt).run(pages_df).release()
    store = SnapshotStore(ckpt, CFG.config_hash())
    lsh = store.read(spark, "lsh_pairs").select("url_a", "url_b")
    full = store.read(spark, "substr_pairs")
    rows = full.join(lsh, ["url_a", "url_b"], "left_anti").collect()
    assert len(rows) < full.count()
    store.write(spark.createDataFrame(rows, full.schema), "substr_pairs", ["exact"])
    # as a run that stopped before its clusters snapshot: resume recomputes CC
    os.remove(store._manifest_path("clusters"))
    res = DedupPipeline(cfg=CFG, checkpoint_dir=ckpt).run(pages_df)
    resumed = _outputs(res)
    assert res.metrics["stage.substr_pairs.rows"] == len(rows)
    res.release()
    plain = DedupPipeline(cfg=CFG).run(pages_df)
    want = _outputs(plain)
    plain.release()
    assert resumed == want


def test_plain_and_checkpointed_runs_agree(spark, pages_df, tmp_path):
    """A run without a checkpoint dir (barrier-backed branches) and one with
    it (snapshot-backed branches) give identical clusters and identical
    (url_a, url_b, source) pairs."""
    outs = []
    for ckpt in (None, str(tmp_path)):
        res = DedupPipeline(cfg=CFG, checkpoint_dir=ckpt).run(pages_df)
        outs.append(_outputs(res))
        res.release()
    (c_plain, p_plain), (c_ckpt, p_ckpt) = outs
    assert c_plain == c_ckpt
    assert p_plain == p_ckpt
    assert {s for _, _, s in p_plain} >= {"exact", "minhash_lsh", "substr"}


def _capped_lsh_input(spark):
    """x1..x3 share band 0's four slots and nothing else; y1, y2 share band 1."""
    def sig(d: int, shared: dict[int, int]) -> list[int]:
        return [shared.get(j, 1000 * d + j + 1) for j in range(CFG.minhash_perms)]

    band0 = {j: 7 for j in range(4)}
    band1 = {j: 9 for j in range(4, 8)}
    rows = [(f"x{i}", sig(i, band0)) for i in (1, 2, 3)]
    rows += [(f"y{i}", sig(10 + i, band1)) for i in (1, 2)]
    return spark.createDataFrame(rows, "url string, minhash array<bigint>")


def _capped_simhash_input(spark):
    """x1, x2 are 3 bits apart and share only block 0, which x3 shares too;
    y1 == y2 share every block with no one else."""
    def word(*blocks: int) -> int:
        v = sum(b << (16 * i) for i, b in enumerate(blocks))
        return v - (1 << 64) if v >= 1 << 63 else v

    rows = [
        ("x1", word(0x1111, 0x2222, 0x3333, 0x4444)),
        ("x2", word(0x1111, 0x2223, 0x3332, 0x4445)),
        ("x3", word(0x1111, 0x5555, 0x6666, 0x7777)),
        ("y1", word(0x8888, 0x9999, 0xAAAA, 0xBBBB)),
        ("y2", word(0x8888, 0x9999, 0xAAAA, 0xBBBB)),
    ]
    return spark.createDataFrame(rows, "url string, simhash bigint")


def _capped_substr_input(spark):
    """x1..x3 share fingerprint 100 only; y1, y2 share fingerprint 200."""
    rows = [(f"x{i}", [100, 10 + i]) for i in (1, 2, 3)]
    rows += [(f"y{i}", [200, 20 + i]) for i in (1, 2)]
    return spark.createDataFrame(rows, "url string, fingerprints array<bigint>")


@pytest.mark.parametrize(
    "op,build,cap_field,kind",
    [
        (candidate_pairs_lsh, _capped_lsh_input, "max_band_group", "bands"),
        (candidate_pairs_simhash, _capped_simhash_input, "max_simhash_group", "blocks"),
        (candidate_pairs_substr, _capped_substr_input, "max_fingerprint_group", "fingerprints"),
    ],
    ids=["lsh", "simhash", "substr"],
)
def test_capped_group_is_dropped_and_counted(spark, op, build, cap_field, kind):
    """A key group above the cap is dropped AND counted, and the pair only
    that group produced is gone; a group at the cap still pairs.  The
    Observation riding the join's own job holds the same counts as the lazy
    metrics frame, without an action of its own."""
    from dataclasses import replace

    from pyspark.sql import Observation

    from camden_spark.plans.metrics import observed

    cap = 2
    obs = Observation(f"test_skew_{kind}")
    pairs, metrics = op(build(spark), replace(CFG, **{cap_field: cap}), obs)
    assert observed(obs) is None  # attached, but nothing has run yet
    found = {(r["url_a"], r["url_b"]) for r in pairs.collect()}
    m = metrics.first().asDict()
    assert observed(obs) == m
    assert m[f"{kind}_dropped"] >= 1
    assert m[f"rows_in_dropped_{kind}"] >= cap + 1
    assert m[f"{kind}_total"] >= m[f"{kind}_dropped"]
    assert ("x1", "x2") not in found
    assert ("y1", "y2") in found


@pytest.mark.parametrize(
    "op,build",
    [
        (candidate_pairs_lsh, _capped_lsh_input),
        (candidate_pairs_simhash, _capped_simhash_input),
        (candidate_pairs_substr, _capped_substr_input),
    ],
    ids=["lsh", "simhash", "substr"],
)
def test_candidate_join_is_one_keyed_pass(spark, op, build):
    """A candidate operator pairs its key groups in one keyed pass: the
    final plan holds no Join node, and calling the operator caches
    nothing."""
    from camden_spark.plans import caches
    from tools.plan_audit import plan_text

    rows = build(spark)
    before = len(caches._ENTRIES)
    pairs, _ = op(rows, CFG)
    assert len(caches._ENTRIES) == before
    assert ("y1", "y2") in {(r["url_a"], r["url_b"]) for r in pairs.collect()}
    text = plan_text(pairs)
    assert "isFinalPlan=true" in text
    assert "Join" not in text, text


def test_pipeline_reports_skew_metrics_of_every_candidate_join(spark, pages_df):
    """Each candidate join's skew counts land in ``res.metrics`` by the time
    ``run()`` returns (they ride the branches' own jobs), and a cap small
    enough to fire is counted."""
    from dataclasses import replace

    res = DedupPipeline(cfg=replace(CFG, max_fingerprint_group=2)).run(pages_df)
    for kind, key in (("lsh", "bands"), ("simhash", "blocks"), ("substr", "fingerprints")):
        m = res.metrics[kind]
        assert set(m) == {f"{key}_total", f"{key}_dropped", f"rows_in_dropped_{key}"}
        assert m[f"{key}_total"] >= m[f"{key}_dropped"] >= 0
    sub = res.metrics["substr"]
    assert sub["fingerprints_dropped"] > 0
    assert sub["rows_in_dropped_fingerprints"] >= 3 * sub["fingerprints_dropped"]
    res.release()


def test_release_frees_only_its_own_run(spark, pages_df):
    """Run A is forced, run B starts after it; A.release() frees A's frames
    only, so B's barrier-backed pairs and clusters still read afterwards.  A
    result that no run produced releases nothing."""
    a = DedupPipeline(cfg=CFG).run(pages_df)
    want = _outputs(a)
    b = DedupPipeline(cfg=CFG).run(pages_df)
    assert a.release(blocking=True) > 0
    assert PipelineResult(clusters=b.clusters, pairs=b.pairs).release() == 0
    assert _outputs(b) == want
    assert b.release(blocking=True) > 0
    assert b.release() == 0


def test_two_pipelines_interleaved_on_threads(spark, pages_df):
    """Two runs on two threads: both run() calls overlap, then each in turn
    forces its outputs and releases while the other still holds its own.
    Both equal a solo run."""
    solo = DedupPipeline(cfg=CFG).run(pages_df)
    want = _outputs(solo)
    solo.release()
    gate = threading.Barrier(2, timeout=300)
    turns = [threading.Event(), threading.Event()]

    def worker(i: int):
        res = DedupPipeline(cfg=CFG).run(pages_df)
        gate.wait()  # both runs registered their frames
        if i == 1:
            turns[0].wait(300)  # the other run has already released
        try:
            return _outputs(res), res.release(blocking=True)
        finally:
            turns[i].set()

    outs = [None, None]

    def start(i: int) -> threading.Thread:
        def fn():
            outs[i] = _run_bounded(lambda: worker(i))
        t = threading.Thread(target=fn, daemon=True)
        t.start()
        return t

    for t in [start(0), start(1)]:
        t.join(330)
    for out in outs:
        assert out is not None and "error" not in out, out
        got, released = out["result"]
        assert got == want
        assert released > 0


def test_pair_found_by_two_branches_keeps_first_source(spark):
    """A near pair that both MinHash-LSH and SimHash verify appears once in
    the pair union, labelled minhash_lsh (the min label, first in union
    order), and pairs_total counts it once."""
    import datetime as _dt
    import random

    rng = random.Random(11)
    words = [f"w{i}" for i in range(500)]
    base = [rng.choice(words) for _ in range(300)]
    ts = _dt.datetime(2025, 1, 1)
    rows = [
        ("u/a", ts, None, " ".join(base), "en"),
        ("u/b", ts, None, " ".join(base[:-1] + ["edited"]), "en"),
    ] + [
        (f"u/s{k}", ts, None, " ".join(rng.choice(words) for _ in range(300)), "en")
        for k in range(4)
    ]
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    df = spark.createDataFrame(rows, schema)
    res = DedupPipeline(cfg=CFG, enable_lsh=False, enable_substr=False).run(df)
    _, only_simhash = _outputs(res)
    res.release()
    assert ("u/a", "u/b", "simhash") in only_simhash
    res = DedupPipeline(cfg=CFG).run(df)
    _, pairs = _outputs(res)
    counters = res.counters.get()
    res.release()
    assert pairs == [("u/a", "u/b", "minhash_lsh")]
    assert counters["pairs_total"] == 1


def test_resume_after_failed_run(spark, pages_df, tmp_path, monkeypatch):
    """A checkpointed run whose substring branch fails after the exact and
    signatures snapshots commit; the rerun reads both snapshots (their
    manifests are untouched) and its clusters equal an uncheckpointed run."""
    import json
    import os

    import camden_spark.plans.pipeline as pipeline_mod

    def boom(*_args, **_kwargs):
        raise ValueError("injected substr failure")

    monkeypatch.setattr(pipeline_mod, "candidate_pairs_substr", boom)
    ckpt = str(tmp_path)
    out = _run_bounded(
        lambda: DedupPipeline(cfg=CFG, checkpoint_dir=ckpt).run(pages_df)
    )
    from camden_spark.plans.caches import release_caches

    release_caches()
    assert isinstance(out.get("error"), RuntimeError), out
    monkeypatch.undo()

    def written_at() -> dict:
        got = {}
        for stage in ("exact", "signatures"):
            path = os.path.join(ckpt, CFG.config_hash(), stage, "_MANIFEST.json")
            with open(path) as fh:
                got[stage] = json.load(fh)["written_at"]
        return got

    before = written_at()
    res = DedupPipeline(cfg=CFG, checkpoint_dir=ckpt).run(pages_df)
    resumed = sorted(map(tuple, res.clusters.collect()))
    res.release()
    assert written_at() == before
    clean = DedupPipeline(cfg=CFG).run(pages_df)
    want = sorted(map(tuple, clean.clusters.collect()))
    clean.release()
    assert resumed == want
