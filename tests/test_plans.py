"""Checkpoint/resume, sinks, streaming, ANN, text functions, multimodal."""

from __future__ import annotations

import json
import os

import numpy as np
import pyspark.sql.functions as F
import pytest

from camden_spark.config import DedupConfig
from camden_spark.operators.ann import (
    ann_near_dup_pairs,
    brute_force_topk,
    cosine_col,
)
from camden_spark.plans.checkpoint import SnapshotStore
from camden_spark.plans.pipeline import DedupPipeline
from camden_spark.sources.sinks import (
    cluster_report,
    write_clusters_json,
    write_dedup_split,
)
from camden_spark.functions.text import lang_id_udf, token_count, with_text_stats


@pytest.mark.parametrize("mode", ["rename", "manifest"])
def test_snapshot_store_roundtrip(spark, tmp_path, mode):
    store = SnapshotStore(str(tmp_path), "cfg123", commit_mode=mode)
    df = spark.range(100).withColumn("x", F.col("id") * 2)
    calls = []

    def build():
        calls.append(1)
        return df

    out1 = store.stage(spark, "s1", build, upstream=[], counters={"n": 100})
    assert out1.count() == 100 and calls == [1]
    # resume: build NOT called again
    store2 = SnapshotStore(str(tmp_path), "cfg123", commit_mode=mode)
    out2 = store2.stage(spark, "s1", build)
    assert out2.count() == 100 and calls == [1]
    assert store2.lineage["s1"]["rows"] == 100
    assert store2.lineage["s1"]["num_partitions"] >= 1
    # different config hash → recompute
    store3 = SnapshotStore(str(tmp_path), "other", commit_mode=mode)
    store3.stage(spark, "s1", build)
    assert calls == [1, 1]
    # different INPUT identity → recompute (a checkpoint dir is bound to one
    # corpus: same config + different --input must never resume stale outputs)
    store4 = SnapshotStore(
        str(tmp_path), "cfg123", input_id="5-deadbeef", commit_mode=mode
    )
    assert not store4.has("s1")
    store4.stage(spark, "s1", build)
    assert calls == [1, 1, 1]
    # ...and the rewritten snapshot is keyed to the new input
    assert store4.lineage["s1"]["input_id"] == "5-deadbeef"
    assert not store2.has("s1")  # old identity now invalid


def test_input_identity_changes_when_corpus_regenerated_in_place(spark, tmp_path):
    """Same file names, different content → different identity: a checkpoint
    dir must never resume a corpus that was regenerated under the same path
    (datagen writes fixed names like pages.parquet)."""
    import time as _time

    from camden_spark.plans.checkpoint import input_identity

    p = str(tmp_path / "corpus")
    spark.range(100).write.mode("overwrite").parquet(p)
    id1 = input_identity(spark.read.parquet(p))
    assert id1  # file-backed → non-empty identity
    _time.sleep(1.1)  # mtime granularity
    spark.range(250).write.mode("overwrite").parquet(p)
    id2 = input_identity(spark.read.parquet(p))
    assert id1 != id2
    # in-memory frames have no identity
    assert input_identity(spark.range(5)) == ""


def test_hadoop_file_stat_matches_os_stat(spark, tmp_path):
    """The Hadoop FileSystem stat path (used for non-file schemes so
    object-store corpora regenerated in place still change identity) agrees
    with os.stat on size and second-level mtime for a file:// URI."""
    import os as _os

    from camden_spark.plans.checkpoint import hadoop_file_stat

    f = tmp_path / "blob.bin"
    f.write_bytes(b"x" * 12345)
    size, mtime_ms = hadoop_file_stat(spark, f"file://{f}")
    st = _os.stat(f)
    assert size == st.st_size == 12345
    assert abs(mtime_ms / 1000.0 - st.st_mtime) < 2.0


def test_snapshot_manifest_commit_is_the_commit_point(spark, tmp_path):
    """manifest mode: data without a manifest (killed mid-write) must read as
    absent and recompute cleanly."""
    store = SnapshotStore(str(tmp_path), "c", commit_mode="manifest")
    df = spark.range(10)
    store.write(df, "s1")
    assert store.has("s1")
    # simulate a crash after data write but before the manifest PUT
    os.remove(os.path.join(str(tmp_path), "c", "s1", "_MANIFEST.json"))
    assert not store.has("s1")
    out = store.stage(spark, "s1", lambda: spark.range(7))
    assert out.count() == 7 and store.has("s1")


def test_pipeline_resume_identical(spark, pages_df, tmp_path):
    cfg = DedupConfig()
    p = DedupPipeline(cfg=cfg, checkpoint_dir=str(tmp_path))
    r1 = sorted(map(tuple, p.run(pages_df).clusters.collect()))
    # second run resumes every stage from snapshot
    p2 = DedupPipeline(cfg=cfg, checkpoint_dir=str(tmp_path))
    r2 = sorted(map(tuple, p2.run(pages_df).clusters.collect()))
    assert r1 == r2
    manifest = os.path.join(
        str(tmp_path), cfg.config_hash(), "clusters", "_MANIFEST.json"
    )
    with open(manifest) as f:
        m = json.load(f)
    assert m["rows"] == len(r1)
    assert "exact" in m["upstream"]


def test_sinks(spark, pages_df, tmp_path):
    cfg = DedupConfig()
    clusters = DedupPipeline(cfg=cfg, enable_simhash=False, enable_substr=False).run(
        pages_df
    ).clusters
    rep = cluster_report(clusters)
    assert rep.filter(F.col("n") <= 1).count() == 0
    write_clusters_json(clusters, str(tmp_path / "json"))
    loaded = spark.read.json(str(tmp_path / "json"))
    assert loaded.count() == rep.count()
    stats = write_dedup_split(pages_df, clusters, str(tmp_path / "split"))
    assert stats["canonical"] + stats["moved"] == pages_df.count()
    assert stats["moved"] == clusters.filter(~F.col("is_canonical")).count()


def test_streaming_exact_dedup(spark, tmp_path):
    from camden_spark.streaming.dedup_stream import streaming_exact_dedup

    src_dir = tmp_path / "stream_src"
    df = spark.createDataFrame(
        [
            ("u/a", "same", "2025-01-01 00:00:00"),
            ("u/b", "same", "2025-01-01 00:10:00"),
            ("u/c", "diff", "2025-01-01 00:20:00"),
        ],
        ["url", "text", "ts"],
    ).withColumn("warc_ts", F.col("ts").cast("timestamp")).drop("ts")
    df.write.parquet(str(src_dir))
    stream = spark.readStream.schema(df.schema).parquet(str(src_dir))
    out = streaming_exact_dedup(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "stream_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select url, checksum from dedup_stream_test").collect()
    # one row per distinct checksum: {same, diff} → 2 rows
    assert len(got) == 2
    assert {r["url"] for r in got} <= {"u/a", "u/b", "u/c"}


def test_brute_force_topk(spark):
    import pandas as pd

    rng = np.random.RandomState(3)
    vecs = rng.standard_normal((50, 8)).astype(float)
    pdf = pd.DataFrame(
        {"vec_id": range(50), "embedding": [list(v) for v in vecs]}
    )
    df = spark.createDataFrame(pdf)
    topk = brute_force_topk(df, df.filter(F.col("vec_id") < 3), k=5)
    rows = topk.collect()
    assert len(rows) == 15
    # compare against numpy for query 0
    sims = vecs @ vecs[0] / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[0]))
    sims[0] = -np.inf
    expected = set(np.argsort(-sims)[:5].tolist())
    got = {r["vec_id"] for r in rows if r["query_id"] == 0}
    assert got == expected
    for r in rows:
        assert 1 <= r["rank"] <= 5


def test_ivf_topk_exhaustive_equals_brute_force(spark):
    """n_probe = n_cells probes every cell → IVF must return EXACTLY the
    brute-force top-k (each vector is scored once via its unique cell)."""
    import pandas as pd

    from camden_spark.operators.ann import ivf_topk

    rng = np.random.RandomState(11)
    vecs = rng.standard_normal((120, 16)).astype(float)
    pdf = pd.DataFrame(
        {"vec_id": range(120), "embedding": [list(v) for v in vecs]}
    )
    df = spark.createDataFrame(pdf)
    q = df.filter(F.col("vec_id") < 4)
    exact = sorted(map(tuple, brute_force_topk(df, q, k=8).collect()))
    ivf = sorted(
        map(tuple, ivf_topk(df, q, k=8, n_cells=8, n_probe=8).collect())
    )
    assert ivf == exact


def test_ivf_topk_reduced_probe_recall(spark):
    """Clustered data: probing 4 of 16 cells must keep recall@10 high while
    scoring only a fraction of the corpus (the IVF speed/recall trade)."""
    import pandas as pd

    from camden_spark.operators.ann import ivf_topk

    rng = np.random.RandomState(5)
    centers = rng.standard_normal((16, 16)) * 3
    vecs = np.concatenate(
        [c + rng.standard_normal((30, 16)) * 0.5 for c in centers]
    )
    pdf = pd.DataFrame(
        {"vec_id": range(len(vecs)), "embedding": [list(v) for v in vecs]}
    )
    df = spark.createDataFrame(pdf)
    q = df.filter(F.col("vec_id") % 60 == 0)  # 8 queries across clusters
    exact = brute_force_topk(df, q, k=10).collect()
    approx = ivf_topk(df, q, k=10, n_cells=16, n_probe=4).collect()
    truth = {(r["query_id"], r["vec_id"]) for r in exact}
    got = {(r["query_id"], r["vec_id"]) for r in approx}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.9, f"IVF recall@10 {recall}"


def test_ivf_near_dup_pairs_recall_and_exactness(spark):
    """IVF near-dup: exhaustive probe equals brute force; reduced probe keeps
    high recall with perfect precision (exact-cosine verify)."""
    import pandas as pd

    from camden_spark.operators.ann import ivf_near_dup_pairs

    rng = np.random.RandomState(9)
    centers = rng.standard_normal((8, 12)) * 2
    vecs = np.concatenate(
        [c + rng.standard_normal((25, 12)) * 0.6 for c in centers]
    )
    pdf = pd.DataFrame(
        {"vec_id": range(len(vecs)), "embedding": [list(v) for v in vecs]}
    )
    df = spark.createDataFrame(pdf)
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norm @ norm.T
    iu = np.triu_indices(len(vecs), 1)
    truth = {
        (int(a), int(b))
        for a, b in zip(*iu)
        if round(sims[a, b], 6) >= 0.6
    }
    assert truth  # the clustered corpus must contain near pairs
    exhaustive = {
        (r["id_a"], r["id_b"])
        for r in ivf_near_dup_pairs(
            df, threshold=0.6, n_cells=8, n_probe=8
        ).collect()
    }
    assert exhaustive == truth
    reduced = {
        (r["id_a"], r["id_b"])
        for r in ivf_near_dup_pairs(
            df, threshold=0.6, n_cells=8, n_probe=2
        ).collect()
    }
    assert reduced <= truth  # exact verify → no false positives
    assert len(reduced) / len(truth) >= 0.9


def test_auto_ivf_params():
    """Corpus-size-scaled operating point: n_cells tracks 1.4·√n so per-cell
    self-joins stay O(n) total candidates; n_probe stays n_cells/8 with a
    floor of 6 (recall floor measured on the near-uniform testdata) and
    never exceeds n_cells."""
    from camden_spark.operators.ann import auto_ivf_params

    assert auto_ivf_params(500) == (31, 6)  # sf0.01: measured recall 1.0
    assert auto_ivf_params(2000) == (63, 8)  # sf0.1: measured recall 0.985
    for n in (1, 10, 100, 10_000, 1_000_000):
        nc, np_ = auto_ivf_params(n)
        assert nc >= 8 and 6 <= np_ <= nc
        if n >= 10_000:  # the √n law, not a constant, drives cell count
            assert abs(nc - 1.4 * n**0.5) <= 1


def test_auto_ivf_params_sample_clamp():
    """Round-7 advisor fix: the requested cell count is clamped to the
    trainer's sample bound BEFORE n_probe is derived — k-means can emit at
    most sample_rows distinct centroids, and deriving n_probe from the
    UNclamped 1.4·√n (n ≳ 2e8) silently drifted the probe fraction from
    1/8 toward exhaustive (the all-pairs cliff) at target corpus sizes."""
    from camden_spark.operators.ann import IVF_SAMPLE_ROWS, auto_ivf_params

    assert IVF_SAMPLE_ROWS == 20_000
    for n in (10**9, 4 * 10**10, 10**12):
        nc, np_ = auto_ivf_params(n)
        assert nc == IVF_SAMPLE_ROWS  # the default train_ivf_centroids bound
        assert np_ == max(6, round(nc / 8))  # derived from the CLAMPED count
    # a caller raising sample_rows gets the matching unclamped point
    nc, np_ = auto_ivf_params(10**9, max_cells=100_000)
    assert nc == round(1.4 * (10**9) ** 0.5)
    assert np_ == max(6, round(nc / 8))


def test_train_ivf_centroids_rejects_cells_above_sample(spark):
    """Asking for more cells than the training sample holds raises before
    any Spark job, instead of clamping inside k-means."""
    from camden_spark.operators.ann import train_ivf_centroids

    vecs = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="exceeds sample_rows"):
        train_ivf_centroids(vecs, n_cells=9, sample_rows=8)


def test_spherical_kmeans_clamp_warns():
    """A cell-count clamp inside the trainer is surfaced, never silent."""
    import warnings

    from camden_spark.operators.ann import _spherical_kmeans

    X = np.random.RandomState(0).standard_normal((16, 4))
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        C = _spherical_kmeans(X, n_cells=32)
    assert C.shape[0] == 16
    assert any("clamping" in str(w.message) for w in rec)


def test_ivf_near_dup_drop_accounting(spark):
    """Oversize cells are dropped AND counted via the status dict — skew caps
    in this engine are never silent."""
    import pandas as pd

    from camden_spark.operators.ann import ivf_near_dup_pairs

    rng = np.random.RandomState(4)
    center = rng.standard_normal(8)
    vecs = center + rng.standard_normal((60, 8)) * 0.1  # one dense blob
    pdf = pd.DataFrame(
        {"vec_id": range(len(vecs)), "embedding": [list(v) for v in vecs]}
    )
    df = spark.createDataFrame(pdf)
    status: dict = {}
    pairs = ivf_near_dup_pairs(
        df, threshold=0.9, n_cells=4, n_probe=1, max_cell=10, status=status
    )
    n_pairs = pairs.count()  # dense-blob cells exceed the cap and are dropped
    assert status["cells_dropped"] >= 1
    assert status["rows_in_dropped_cells"] >= 11
    assert status["cells_total"] >= status["cells_dropped"]
    # dropped cells means far fewer than the blob's all-pairs count
    assert n_pairs < 60 * 59 / 2


def test_ann_near_dup_finds_planted(spark):
    import pandas as pd

    rng = np.random.RandomState(4)
    base = rng.standard_normal((40, 16))
    # plant 5 near-identical pairs
    vecs = list(base)
    for i in range(5):
        vecs.append(base[i] + rng.standard_normal(16) * 0.01)
    pdf = pd.DataFrame(
        {"vec_id": range(len(vecs)), "embedding": [list(v) for v in vecs]}
    )
    df = spark.createDataFrame(pdf)
    pairs = ann_near_dup_pairs(df, dim=16, threshold=0.99, n_planes=8, n_tables=6)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    expected = {(i, 40 + i) for i in range(5)}
    assert expected <= found
    assert all(r["cosine_sim"] >= 0.99 for r in pairs.collect())


def test_text_stats_and_lang_id(spark):
    df = spark.createDataFrame(
        [
            (1, "The quick brown fox and the lazy dog in the rain.", "en"),
            (2, "Der Hund ist nicht mit der Katze und dem Vogel.", "de"),
            (3, "", "en"),
            (4, "12345 67890 !!!", "en"),
        ],
        ["doc_id", "text", "lang"],
    )
    stats = {r["doc_id"]: r for r in with_text_stats(df).collect()}
    assert stats[1]["n_tokens"] == 11
    assert stats[3]["n_tokens"] == 0 and stats[3]["quality_score"] == 0.0
    assert stats[4]["digit_ratio"] > 0.5
    assert 0 <= stats[1]["quality_score"] <= 1
    langs = {
        r["doc_id"]: r["pred"]
        for r in df.select(
            "doc_id", lang_id_udf()(F.col("text")).alias("pred")
        ).collect()
    }
    assert langs[1] == "en"
    assert langs[2] == "de"
    assert langs[3] == "und"


def test_multimodal_features(spark):
    from camden_spark.multimodal import extract_media_features, media_exact_dup_clusters

    df = spark.createDataFrame(
        [
            (1, "m://1", "image", bytearray(b"payload-one"), 4, 4, None),
            (2, "m://2", "image", bytearray(b"payload-one"), 4, 4, None),
            (3, "m://3", "audio", bytearray(b"payload-two"), None, None, 1000),
        ],
        "media_id long, url string, media_type string, payload binary, "
        "width int, height int, duration_ms long",
    )
    feats = {r["media_id"]: r for r in extract_media_features(df, fake=True).collect()}
    assert len(feats[1]["feature"]) == 16
    # identical payloads → identical features and checksums
    assert feats[1]["feature"] == feats[2]["feature"]
    assert feats[1]["payload_sha256"] == feats[2]["payload_sha256"]
    assert feats[1]["payload_sha256"] != feats[3]["payload_sha256"]
    clusters = {r["media_id"]: r for r in media_exact_dup_clusters(df).collect()}
    assert clusters[1]["cluster_size"] == 2
    assert clusters[3]["cluster_size"] == 1
    with pytest.raises(Exception):
        extract_media_features(df, fake=False).collect()


def test_config_validation():
    with pytest.raises(ValueError):
        DedupConfig(lsh_bands=3, lsh_rows=4, minhash_perms=128)
    with pytest.raises(ValueError):
        DedupConfig(simhash_blocks=2, simhash_radius=3)
    with pytest.raises(ValueError):
        DedupConfig(checksum_algo="md5")
    a, b = DedupConfig(), DedupConfig(jaccard_threshold=0.9)
    assert a.config_hash() != b.config_hash()
    assert a.config_hash() == DedupConfig().config_hash()


def test_empty_input(spark):
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    empty = spark.createDataFrame([], schema)
    res = DedupPipeline().run(empty)
    assert res.clusters.count() == 0
    assert res.pairs.count() == 0


def _one_file_parquet(df, path):
    df.coalesce(1).write.parquet(path)
    return df.sparkSession.read.parquet(path)


def test_spread_input_sizes_to_session_cores(spark, tmp_path):
    from camden_spark.plans.pipeline import spread_input

    n = spark.sparkContext.defaultParallelism
    assert n >= 2
    one = _one_file_parquet(spark.range(1000), str(tmp_path / "one"))
    assert spread_input(one).rdd.getNumPartitions() == n
    assert spread_input(one, udf_bound=True).rdd.getNumPartitions() == max(2, n // 4)
    # an estimated scan fan-out of n files already fills the cores
    spark.range(1000).repartition(n).write.parquet(str(tmp_path / "many"))
    many = spark.read.parquet(str(tmp_path / "many"))
    assert spread_input(many) is many
    # in-memory frames keep their source partitioning
    mem = spark.range(1000)
    assert spread_input(mem) is mem


def test_pipeline_resplits_one_file_input_to_session_cores(
    spark, pages_df, tmp_path, monkeypatch
):
    import camden_spark.operators.exact as exact_mod

    seen = []
    real = exact_mod.with_checksum

    def spy(df, cfg):
        seen.append(df)
        return real(df, cfg)

    monkeypatch.setattr(exact_mod, "with_checksum", spy)
    pages = _one_file_parquet(pages_df, str(tmp_path / "pages"))
    res = DedupPipeline(
        enable_lsh=False, enable_simhash=False, enable_substr=False,
        collect_metrics=False,
    ).run(pages)
    assert res.clusters.count() == pages_df.select("url").distinct().count()
    res.release()
    n = spark.sparkContext.defaultParallelism
    plan = seen[0]._jdf.queryExecution().executedPlan().toString()
    assert f"RoundRobinPartitioning({n})" in plan, plan


def _storage_rdd_count(spark) -> int:
    """Number of RDDs currently occupying block storage (cached frames that
    have actually materialized)."""
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def test_cache_hygiene_release(spark, pages_df):
    """VERDICT r2 item 7: after a pipeline run is materialized and released,
    no operator/pipeline cached relations remain in storage (only whatever
    was cached before — e.g. the session-scoped pages_df fixture)."""
    from camden_spark.plans.caches import release_caches

    release_caches()  # clear leftovers from earlier tests in the session
    baseline = _storage_rdd_count(spark)
    res = DedupPipeline().run(pages_df)
    res.clusters.count()  # materialize → operator caches fill
    assert _storage_rdd_count(spark) > baseline
    released = res.release(blocking=True)
    assert released > 0
    assert _storage_rdd_count(spark) == baseline


def _final_plan_str(df) -> str:
    """Executed (post-AQE) physical plan — collect first so AQE finalizes."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_dedup_incremental_broadcast_gate(spark):
    """dedup_incremental carries NO broadcast hint on the index side: with
    the session's default autoBroadcastJoinThreshold the small index still
    broadcasts (Catalyst/AQE measured it), and when the threshold says the
    index is too big the SAME plan flips to shuffled joins — the property a
    hard-coded hint destroys at production index sizes."""
    from camden_spark.entry_queries import q_dedup_incremental

    sf = "/root/testdata/sf0.001"
    if not os.path.exists(os.path.join(sf, "documents.parquet")):
        pytest.skip("driver testdata not present")
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        plan_default = _final_plan_str(q_dedup_incremental(spark, sf))
        assert "Broadcast" in plan_default, (
            "small index should broadcast under the default threshold"
        )
        rows_default = sorted(
            (r["doc_id"], r["checksum"])
            for r in q_dedup_incremental(spark, sf).collect()
        )
        spark.conf.set(key, "-1")
        plan_gated = _final_plan_str(q_dedup_incremental(spark, sf))
        assert "BroadcastHashJoin" not in plan_gated, (
            "index side must flip to a shuffled join when it exceeds the "
            "threshold — a residual broadcast means a hard-coded hint"
        )
        rows_gated = sorted(
            (r["doc_id"], r["checksum"])
            for r in q_dedup_incremental(spark, sf).collect()
        )
        assert rows_default == rows_gated  # plan flip, identical answer
    finally:
        spark.conf.set(key, old)


def test_ivf_topk_broadcast_gate(spark):
    """ivf_topk carries NO broadcast hint on the exploded query side: with
    the default autoBroadcastJoinThreshold a handful of probe queries still
    broadcast (AQE measured them), and with broadcasting disabled the SAME
    call flips to a shuffled cell-keyed join with an identical answer — the
    property a hard-coded F.broadcast(q) destroys for corpus-vs-corpus
    retrieval batches."""
    import pandas as pd

    from camden_spark.operators.ann import ivf_topk

    rng = np.random.RandomState(23)
    vecs = rng.standard_normal((120, 16)).astype(float)
    pdf = pd.DataFrame(
        {"vec_id": range(120), "embedding": [list(v) for v in vecs]}
    )
    df = spark.createDataFrame(pdf)
    q = df.filter(F.col("vec_id") < 4)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        res_default = ivf_topk(df, q, k=8, n_cells=8, n_probe=2, seed=7)
        plan_default = _final_plan_str(res_default)
        assert "Broadcast" in plan_default, (
            "4 probe queries should broadcast under the default threshold"
        )
        rows_default = sorted(map(tuple, res_default.collect()))
        spark.conf.set(key, "-1")
        res_gated = ivf_topk(df, q, k=8, n_cells=8, n_probe=2, seed=7)
        plan_gated = _final_plan_str(res_gated)
        assert "BroadcastHashJoin" not in plan_gated, (
            "query side must flip to a shuffled join when broadcasting is "
            "off — a residual broadcast means a hard-coded hint"
        )
        rows_gated = sorted(map(tuple, res_gated.collect()))
        assert rows_default == rows_gated  # plan flip, identical answer
    finally:
        spark.conf.set(key, old)


def test_decontaminate_broadcast_gate(spark):
    """decontaminate carries NO broadcast hint on the benchmark index: with
    the default autoBroadcastJoinThreshold the tiny eval index still
    broadcasts (AQE measured it), and when the threshold classifies the
    index as too big (a million-row eval suite at production scale) the
    SAME plan flips to a shuffled join with an identical answer — the
    property the old hard-coded F.broadcast(grams_b) destroyed."""
    from camden_spark.entry_queries import _word_5gram_shingles
    from camden_spark.operators.decontam import decontaminate

    bench_text = " ".join(f"tok{i}" for i in range(20))
    rows = [
        (10, "prefix words " + bench_text + " suffix"),
        (11, "completely different content with no overlap at all here now"),
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
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        res_default = decontaminate(sh, bench, min_containment=0.5)
        plan_default = _final_plan_str(res_default)
        assert "BroadcastHashJoin" in plan_default, (
            "tiny eval index should broadcast under the default threshold"
        )
        rows_default = sorted(map(tuple, res_default.collect()))
        spark.conf.set(key, "-1")
        res_gated = decontaminate(sh, bench, min_containment=0.5)
        plan_gated = _final_plan_str(res_gated)
        assert "BroadcastHashJoin" not in plan_gated, (
            "benchmark side must flip to a shuffled join when it exceeds "
            "the threshold — a residual broadcast means a hard-coded hint"
        )
        rows_gated = sorted(map(tuple, res_gated.collect()))
        assert rows_default == rows_gated  # plan flip, identical answer
    finally:
        spark.conf.set(key, old)


def test_sig_backend_flips_checkpoint_identity(tmp_path, spark):
    """cfg.sig_backend feeds config_hash, so flipping backends must NOT
    resume from the other backend's snapshots: each backend gets its own
    config-hash directory and recomputes, and the two runs agree on
    clusters (backend is an execution detail, not a semantic knob)."""
    import datetime as _dt

    from camden_spark.config import DedupConfig

    assert (
        DedupConfig(sig_backend="arrow").config_hash()
        != DedupConfig(sig_backend="jvm").config_hash()
    )

    ts = _dt.datetime(2025, 1, 1)
    rows = [
        (f"https://e.x/{i}", ts, None,
         ("alpha beta gamma delta epsilon zeta " * 8) + (str(i) if i < 3 else ""),
         "en")
        for i in range(6)
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )

    def run(backend):
        p = DedupPipeline(
            cfg=DedupConfig(sig_backend=backend),
            checkpoint_dir=str(tmp_path),
        )
        res = p.run(df)
        out = sorted((r["url"], r["cluster_id"]) for r in res.clusters.collect())
        res.release()
        return out, p.cfg.config_hash()

    out_arrow, hash_arrow = run("arrow")
    dirs_after_arrow = set(os.listdir(tmp_path))
    assert hash_arrow in dirs_after_arrow
    out_jvm, hash_jvm = run("jvm")
    # a fresh config-hash directory appeared: the jvm run recomputed rather
    # than reusing stale arrow-keyed signature snapshots
    assert hash_jvm in set(os.listdir(tmp_path)) - dirs_after_arrow
    assert out_arrow == out_jvm


def test_pin_executor_fleet_noop_on_local_master(spark):
    """pin_executor_fleet is exec-shape-leg machinery: on a plain local[N]
    master it must return None without touching any process affinity."""
    import os as _os

    from camden_spark.session import pin_executor_fleet

    before = _os.sched_getaffinity(0)
    assert pin_executor_fleet(spark, 2) is None
    assert _os.sched_getaffinity(0) == before


def test_warm_cache_populates_before_consumers(spark):
    """Round 6: warm_cache must leave the frame's cache POPULATED (not just
    registered) so AQE's concurrent exchange branches never race on a cold
    cache — on a multi-executor fleet a cold race recomputes the full
    upstream per branch (see caches.warm_cache docstring).  Also: it must
    stay releasable through the normal registry."""
    from camden_spark.plans.caches import release_caches, warm_cache

    release_caches()
    baseline = _storage_rdd_count(spark)
    df = warm_cache(spark.range(1000).selectExpr("id", "id * 2 as v"))
    # populated, not merely marked: storage holds the relation's blocks
    assert _storage_rdd_count(spark) > baseline
    jcache = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemory" in jcache or df.storageLevel.useMemory
    assert df.count() == 1000
    release_caches()
    assert _storage_rdd_count(spark) == baseline


def test_snapshot_from_older_manifest_version_recomputes(spark, tmp_path):
    """A v2 checkpoint (``exact`` without ``canon_url``, CC over exact stars)
    must read as absent: the stage recomputes instead of resuming into a
    missing column."""
    from camden_spark.plans.checkpoint import MANIFEST_VERSION

    assert MANIFEST_VERSION == 3
    store = SnapshotStore(str(tmp_path), "c")
    store.write(spark.range(10), "exact")
    path = os.path.join(str(tmp_path), "c", "exact", "_MANIFEST.json")
    with open(path) as f:
        manifest = json.load(f)
    manifest["version"] = 2
    with open(path, "w") as f:
        json.dump(manifest, f)
    assert not store.has("exact")
    assert store.stage(spark, "exact", lambda: spark.range(7)).count() == 7
    assert store.has("exact")


def test_get_spark_warns_when_static_conf_is_ignored(spark, monkeypatch):
    """getOrCreate on a running session keeps its launch-time confs; a
    second get_spark asking for different ones must say so."""
    import warnings

    from camden_spark.session import get_spark

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    with warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("always")
        same = get_spark("camden_spark_tests", cores=cores, shuffle_partitions=8)
    assert same is spark
    assert not [w for w in seen if "get_spark" in str(w.message)]  # same request
    monkeypatch.setenv("SPARK_GRAFT_CODEGEN_CACHE", "123")
    with pytest.warns(RuntimeWarning, match="codegen.cache.maxEntries"):
        get_spark("camden_spark_tests", cores=cores, shuffle_partitions=8)
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") != "123"
