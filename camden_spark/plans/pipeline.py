"""End-to-end dedup pipeline (SURVEY §3.4 target lifecycle).

Stage graph (each stage optionally snapshot-checkpointed, F9):

  pages ─ checksum ─┬─ exact:    window → (rn, canon_url)             [stage 1]
      (near stages) └─ normalize → canonicals' sig: MinHash, SimHash  [stage 2]
                              ├─ lsh_pairs:     band join + Jaccard   [stage 3]
                              ├─ simhash_pairs: pigeonhole Hamming    [stage 4]
                              └─ substr_pairs:  winnow join + SA      [stage 5]
  near pairs between canonicals → CC (one-task union-find when the
  counted edges are few, the large-star/small-star loop otherwise);
  members inherit via canon_url; exact-only runs skip CC              [stage 6]

The three candidate branches run on driver threads and each returns its
verified pairs, behind its snapshot when a checkpoint dir is set and a
materialization barrier otherwise; no branch waits on another.  The main
thread keeps the pair union, CC and the sinks.  Each candidate join's
skew counters (``{kind}_total``, ``{kind}_dropped``,
``rows_in_dropped_{kind}``) ride an Observation on that join's own job and
land in ``PipelineResult.metrics["lsh"|"simhash"|"substr"]`` with no job of
their own.

A checksum group already is a component with its min url as canonical, so
rows byte-identical to a canonical are never shingled (F7) and take their
canonical's component id — exact: a component's min canonical is its min url.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, Window
from pyspark.util import inheritable_thread_target

from camden_spark.config import DedupConfig
from camden_spark.operators.components import connected_components
from camden_spark.operators.exact import exact_dedup_clusters
from camden_spark.operators.lsh import candidate_pairs_lsh, pair_urls, verify_pairs_jaccard
from camden_spark.operators.simhash import candidate_pairs_simhash
from camden_spark.operators.substr import (
    candidate_pairs_substr,
    verify_pairs_substr,
    with_fingerprints,
)
from camden_spark.functions.shingles import nonempty_signatures, with_shingles
from camden_spark.plans.caches import (
    OWNER,
    materialize_barrier,
    release_caches,
    track_cache,
    warm_cache,
)
from camden_spark.plans.checkpoint import SnapshotStore
from camden_spark.plans.metrics import StageCounters, observed
from camden_spark.sources.pages import normalize_pages


def _estimated_scan_partitions(df: DataFrame) -> int:
    """Estimated scan-task count for a file-backed frame: Σ ceil(file_bytes /
    maxPartitionBytes) — parquet is splittable, so bytes (not file count)
    decide the fan-out.  Returns -1 when unknown (in-memory source, or files
    we cannot stat, e.g. object-store URIs): callers must then leave the
    source partitioning alone rather than risk a full-corpus shuffle."""
    from urllib.parse import unquote, urlparse

    try:
        files = df.inputFiles()
    except Exception:
        return -1
    if not files:
        return -1
    # the session's own parse of the byte string ("64m", "1g", ...)
    mpb = df.sparkSession._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    total = 0
    for f in files:
        parsed = urlparse(f)
        if parsed.scheme not in ("", "file"):
            return -1  # remote store: trust the scan's own splitting
        # inputFiles() returns percent-encoded URIs (a space reads %20)
        try:
            size = os.path.getsize(unquote(parsed.path))
        except OSError:
            return -1
        total += max(1, -(-size // mpb))
    return total


def spread_input(df: DataFrame, udf_bound: bool = False) -> DataFrame:
    """Byte-aware input resplit to the session's cores.  A small or
    unsplittable parquet input arrives as a handful of scan tasks (one
    0.6 MB documents.parquet is ONE task), which serializes the heavy
    per-row stages (Arrow UDFs, 5-gram shingling) on one core — measured
    2×3-4 s single-task stages in decontaminate/dedup_incremental at sf0.1.
    Repartition to ``defaultParallelism`` only when the file-byte scan
    fan-out is below it: file COUNT is the wrong measure (one large parquet
    splits into many scan tasks), and a production corpus that already
    splits into thousands of tasks takes no extra full-corpus shuffle.
    In-memory frames and non-stattable stores keep their partitioning.  No
    more than the core count: every Arrow task pays a fixed Python round
    trip, so thinner tasks only add waves (the pipeline on web_mixed,
    4 cores: 4 partitions beat 8 and 32).  Rows are unchanged — results
    are partitioning-invariant.

    ``udf_bound``: spread to a quarter of the parallelism (floor 2) for a
    query whose heavy stage is an Arrow UDF (q_lsh_pairs at sf0.1 on 32
    cores: 8 parts 4.70 s, 1 part 4.96 s, 32 parts 5.98 s).  Re-measured on
    4 cores (2 parts vs 4, 10 interleaved process pairs at sf0.1): equal
    medians, but the full fan-out was slower for lsh_pairs and substr_pairs
    in 7 of 10 pairs, so the flag stays."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if udf_bound:
        n = max(2, n // 4)
    if 0 < _estimated_scan_partitions(df) < n:
        return df.repartition(n)
    return df


@dataclass
class PipelineResult:
    clusters: DataFrame          # (url, cluster_id, is_canonical)
    pairs: DataFrame             # union of verified duplicate pairs + source
    metrics: dict = field(default_factory=dict)
    #: Observation-backed row counters (plans/metrics.py); populated after the
    #: clusters/pairs frames are materialized — read via counters.get()
    counters: "StageCounters | None" = None
    #: the run that registered this result's cached and barrier frames
    owner: object | None = None

    def release(self, blocking: bool = False) -> int:
        """Free the cached and barrier frames registered by THIS run; frames
        of other runs, and of code outside any run, stay.

        Call ONLY after materializing both ``clusters`` and ``pairs``:
        ``pairs`` (and the internal lsh_pairs set) are barrier-backed
        localCheckpoint frames whose lineage is truncated — after release
        their blocks are gone for good, so consuming them again fails with
        checkpoint-block-not-found rather than recomputing.  Plain tracked
        caches, by contrast, merely recompute.  Returns the number of
        frames released (0 for a result that no run produced)."""
        if self.owner is None:
            return 0
        return release_caches(blocking, self.owner)


@dataclass
class DedupPipeline:
    cfg: DedupConfig = field(default_factory=DedupConfig)
    checkpoint_dir: str | None = None
    #: toggles, mostly for tests / staged benchmarking
    enable_lsh: bool = True
    enable_simhash: bool = True
    enable_substr: bool = True

    def _store(self, pages: DataFrame) -> SnapshotStore | None:
        if self.checkpoint_dir is None:
            return None
        from camden_spark.plans.checkpoint import input_identity

        return SnapshotStore(
            self.checkpoint_dir,
            self.cfg.config_hash(),
            input_id=input_identity(pages),
        )

    def run(self, pages: DataFrame) -> PipelineResult:
        """Run the pipeline; every frame it caches or checkpoints is
        registered under a fresh owner that ``PipelineResult.release()``
        frees, so runs sharing a process release independently."""
        owner = object()
        token = OWNER.set(owner)
        try:
            return self._run(pages, owner)
        finally:
            OWNER.reset(token)

    def _run(self, pages: DataFrame, owner: object) -> PipelineResult:
        cfg = self.cfg
        spark = pages.sparkSession
        store = self._store(pages)
        metrics: dict = {}
        # each candidate join's skew sums ride its own job (capped_key_join)
        skew = {k: Observation(f"skew_{k}") for k in ("lsh", "simhash", "substr")}

        def staged(name: str, build, upstream: list[str]) -> DataFrame:
            if store is not None:
                df = store.stage(spark, name, build, upstream=upstream)
                metrics[f"stage.{name}.rows"] = store.lineage[name]["rows"]
                return df
            return build()

        # Column-prune FIRST: only (url, warc_ts, text) ever leave the scan —
        # `html` must not ride through the repartition shuffle or the cache.
        base = pages.select("url", "warc_ts", "text")
        if cfg.canonicalize_urls:
            # crawl-duplicate key collapsing (functions/web.py): a url that
            # canonicalizes identically IS the same page key, so downstream
            # first-wins picks one row per canonical key via the usual
            # deterministic (url, warc_ts) ordering.  Opt-in: it changes the
            # url key space, hence cluster assignments (config-hashed).
            from camden_spark.functions.web import canonicalize_url

            base = base.withColumn("url", canonicalize_url(F.col("url")))
        # an under-split input would run every Arrow UDF stage on a few cores
        base = spread_input(base)
        # one scan computes the exact-dup checksum AND the normalized text,
        # then the raw text (and html) are dropped — the cached working set
        # carries exactly what downstream stages read
        from camden_spark.operators.exact import with_checksum

        # warm_cache (not bare track_cache): these frames are scanned by
        # MULTIPLE branches of the downstream mega-query, and AQE
        # materializes those branches as concurrent jobs — on a
        # multi-executor fleet, cold-cache branches race and each
        # recomputes the full upstream (caches.warm_cache docstring; the
        # duplicated Arrow stages measured on the N→4N legs).  Populating
        # here serializes exactly one computation per frame.  norm itself
        # needs no SEPARATE warming action: exact's warm count scans norm
        # through its cache and populates it in the same job (one fewer
        # count barrier per run — VERDICT r6 ask #3).
        n_branches = sum((self.enable_lsh, self.enable_simhash, self.enable_substr))
        norm = with_checksum(base, cfg).select("url", "warc_ts", "checksum", "text")
        if n_branches:
            norm = track_cache(
                normalize_pages(norm, cfg.lowercase, cfg.collapse_whitespace)
                .select("url", "warc_ts", "checksum", "norm_text")
            )
        else:  # exact only: the checksum is all the run reads
            norm = norm.drop("text")

        # ---- stage 1: exact (camden semantics) -------------------------
        exact = warm_cache(
            staged(
                "exact",
                lambda: exact_dedup_clusters(norm, cfg),
                upstream=[],
            )
        )

        # exact-dup pairs: every non-canonical pairs with its canonical
        exact_pairs = exact.filter(F.col("rn") > 1).select(
            F.least("canon_url", "url").alias("url_a"),
            F.greatest("canon_url", "url").alias("url_b"),
            F.lit("exact").alias("source"),
        )
        # url keys need not be unique (re-crawls, canonicalize_urls): a url in
        # two checksum groups joins them, so bridge each group's canonical to
        # the url's min canonical (none when every url is a single row)
        bridges = exact.select(
            F.min("canon_url").over(Window.partitionBy("url")).alias("url_a"),
            F.col("canon_url").alias("url_b"),
            F.lit("bridge").alias("source"),
        ).filter(F.col("url_a") != F.col("url_b"))

        # near stages run on distinct texts only (canonicals + singletons).
        # Derived from the cached `norm` (no second full-width cache): the
        # semi join broadcasts the url set.
        if n_branches:
            distinct_pages = norm.select("url", "norm_text").join(
                exact.filter(F.col("is_canonical")).select("url"), "url", "left_semi"
            )

        pair_frames = [exact_pairs]

        def build_sig() -> DataFrame:
            return nonempty_signatures(distinct_pages, cfg)

        needs_sig = self.enable_lsh or self.enable_simhash
        if needs_sig:
            # cache only the fixed-width signatures; shingle-hash sets are
            # recomputed later for just the docs that appear in candidate
            # pairs (never materialized corpus-wide — they dominate memory
            # traffic and a 10^12-doc corpus could not hold them anyway)
            # zero-shingle docs (empty/whitespace-only after normalization)
            # are excluded from ALL near-dup stages: their sentinel signatures
            # would otherwise band every empty page together (and flip with
            # corpus size once the mega-band cap kicks in).  They remain
            # singletons unless the exact stage clustered them byte-identical.
            # warm, for the same concurrent-branch reason as norm/exact:
            # the LSH and SimHash branches both read sig, on concurrent
            # pool threads
            sig = warm_cache(
                staged("signatures", build_sig, upstream=["exact"])
            )

        def build_lsh() -> DataFrame:
            cand, _ = candidate_pairs_lsh(sig, cfg, skew["lsh"])
            # HARD materialization barrier: three downstream branches
            # consume the candidate set, and without it they race to
            # compute the expensive band-join subtree redundantly (+25%
            # pipeline wall at 500k docs).  localCheckpoint, not
            # cache+count — see materialize_barrier's docstring for the
            # Spark 4.1 cached-AQE-plan re-execution quirk.
            cand = materialize_barrier(cand)
            sh = with_shingles(
                distinct_pages.join(pair_urls(cand), "url", "left_semi"), cfg
            )
            return verify_pairs_jaccard(cand, sh, cfg)

        def build_simhash() -> DataFrame:
            return candidate_pairs_simhash(sig, cfg, skew["simhash"])[0]

        def build_substr() -> DataFrame:
            # no cache: the candidate join reads fp once
            fp = with_fingerprints(distinct_pages, cfg).select("url", "fingerprints")
            cand, _ = candidate_pairs_substr(fp, cfg, skew["substr"])
            # barrier, as in build_lsh: the verify reads the candidate set
            # three times (both url prunes and the text join).  Pairs LSH
            # also finds are verified here too: the pair union keeps one
            # row per pair, labelled minhash_lsh
            return verify_pairs_substr(materialize_barrier(cand), distinct_pages, cfg)

        def branch(name: str, build, upstream: list[str]) -> DataFrame:
            """Run one candidate branch (stage ``{name}_pairs``) to its
            verified pairs HERE, on its pool thread, not later inside the
            pair-union barrier.  The pairs are computed once for the pair
            union: with a store the staged() parquet snapshot is the barrier,
            without one a materialize_barrier (a plain cache() would not stop
            the recompute, see its docstring)."""
            df = staged(f"{name}_pairs", build, upstream=upstream)
            return df if store is not None else materialize_barrier(df)

        # Run the independent candidate branches to their verified pairs on
        # driver threads: each branch's actions leave executors idle during
        # its own driver/AQE planning gaps (~20 s per pipeline run, measured
        # in BENCH/BASELINE.md round-6) and its sub-core-count stage tails —
        # a concurrent sibling fills both.  Safe because every shared input
        # (norm/exact/sig) is warm-cached ABOVE, so threads read populated
        # blocks instead of racing to compute them (caches.warm_cache
        # docstring).  Pool threads inherit neither context variables nor
        # Spark local properties: the initializer hands them this run's
        # owner, and each submission carries the caller's job group.
        branches = {
            "lsh": (self.enable_lsh, build_lsh, ["signatures"]),
            "simhash": (self.enable_simhash, build_simhash, ["signatures"]),
            "substr": (self.enable_substr, build_substr, ["exact"]),
        }
        run_branch = inheritable_thread_target(branch)
        with ThreadPoolExecutor(
            max_workers=3, initializer=OWNER.set, initargs=(owner,)
        ) as pool:
            futs = {
                name: pool.submit(run_branch, name, build, upstream)
                for name, (on, build, upstream) in branches.items()
                if on
            }
            # retrieve EVERY branch's outcome before raising: a fixed await
            # order would drop sibling exceptions on a multi-branch failure
            # and report only one cause
            results: dict[str, DataFrame] = {}
            errors: dict[str, Exception] = {}
            for name, fut in futs.items():
                try:
                    results[name] = fut.result()
                except Exception as exc:  # noqa: BLE001 - aggregated below
                    errors[name] = exc
        if errors:
            detail = "; ".join(
                f"{n}: {type(e).__name__}: {str(e)[:300]}" for n, e in errors.items()
            )
            raise RuntimeError(
                f"candidate branch(es) failed [{detail}]"
            ) from next(iter(errors.values()))
        # filled by the branches' own jobs; absent for a branch that is off
        # or resumed from its snapshot
        for name, obs in skew.items():
            row = observed(obs)
            if row is not None:
                metrics[name] = row

        sources = {"lsh": "minhash_lsh", "simhash": "simhash", "substr": "substr"}
        for name, pairs in results.items():
            pair_frames.append(
                pairs.select("url_a", "url_b", F.lit(sources[name]).alias("source"))
            )

        # ---- union (F8) + connected components (F6) --------------------
        counters = StageCounters()
        all_pairs = pair_frames[0]
        for pf in pair_frames[1:]:
            all_pairs = all_pairs.unionByName(pf)
        # a pair found by several branches keeps the min label, i.e. the
        # first in union order (exact < minhash_lsh < simhash < substr)
        all_pairs = counters.observe_rows(
            all_pairs.groupBy("url_a", "url_b").agg(F.min("source").alias("source")),
            "pairs_total",
        )
        # materialize the pairs and CC's edges (near pairs + bridges) ONCE:
        # CC consumes them through its truncations and callers force
        # PipelineResult.pairs afterwards — with a plain cache() both re-ran
        # every verify stage per action (materialize_barrier docstring).
        both = materialize_barrier(
            counters.observe_rows(
                all_pairs.unionByName(bridges),
                "cc_edges",
                where=F.col("source") != "exact",
            )
        )
        all_pairs = both.filter(F.col("source") != "bridge")
        edges = both.filter(F.col("source") != "exact").select("url_a", "url_b")

        def build_clusters() -> DataFrame:
            cc_status: dict = {"converged": True, "iterations": 0}
            out = exact.selectExpr("url", "canon_url AS cluster_id")
            # no edge, no CC (an uncounted barrier: no job ran, so run CC on
            # an unknown size); a small counted graph takes the one-task
            # union-find, and a checkpoint dir keeps the star loop's state on
            # the RELIABLE parquet path
            n_edges = counters.get().get("cc_edges")
            if n_edges != 0:
                cc_ckpt = None if self.checkpoint_dir is None else os.path.join(
                    self.checkpoint_dir, cfg.config_hash(), "cc_scratch"
                )
                comp = connected_components(
                    edges, cfg, status=cc_status, checkpoint_dir=cc_ckpt,
                    n_edges=n_edges,
                ).withColumnRenamed("url", "canon_url")
                # one join with the small component table
                out = exact.join(comp, "canon_url", "left").selectExpr(
                    "url", "coalesce(cluster_id, canon_url) AS cluster_id"
                )
            # surfaced, never silent: a capped-out CC returns split clusters
            metrics["cc"] = cc_status
            return out.withColumn("is_canonical", F.col("url") == F.col("cluster_id"))

        clusters = counters.observe_rows(
            staged(
                "clusters",
                build_clusters,
                upstream=["exact", "lsh_pairs", "simhash_pairs", "substr_pairs"],
            ),
            "clusters_total",
        )
        return PipelineResult(
            clusters=clusters,
            pairs=all_pairs,
            metrics=metrics,
            counters=counters,
            owner=owner,
        )
