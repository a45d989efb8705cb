"""Registry of operator-cached and lineage-truncated DataFrames (VERDICT r2
item 7).

Operators cache small intermediates (band-group sizes, candidate-pair sets,
fingerprint frames) that are consumed lazily through the DataFrames they
return — so the operator itself can never safely ``unpersist()``.  Left
alone, a long-lived session running many queries accumulates these cached
relations in executor storage memory.

Discipline: operators call :func:`track_cache` instead of ``df.cache()`` and
:func:`materialize_barrier` instead of ``df.localCheckpoint()``; the
*consumer* (bench loop, CLI after sinks are written, a test after its
assertions) calls :func:`release_caches` once results are materialized.
Every entry is the frame itself, freed through that frame, and carries the
pipeline run that registered it (:data:`OWNER`, ``None`` outside any run),
so one run's ``PipelineResult.release()`` frees only its own frames.

For plain tracked caches releasing early only costs recompute time, never
correctness (Spark recomputes an unpersisted frame from lineage).  Barrier
frames are different: their lineage is truncated (localCheckpoint), so a
released barrier CANNOT be recomputed — consuming it after release fails
with checkpoint-block-not-found.  Materialize barrier-backed results (e.g.
``PipelineResult.pairs`` / ``clusters``) BEFORE releasing.
"""

from __future__ import annotations

import threading
from contextvars import ContextVar

from pyspark.sql import DataFrame

#: the pipeline run registering frames in this context (None outside a run)
OWNER: ContextVar[object | None] = ContextVar("cache_owner", default=None)
#: (owner, frame, is_barrier) in registration order (released LIFO);
#: branch threads register concurrently, hence the lock
_ENTRIES: list[tuple[object | None, DataFrame, bool]] = []
_LOCK = threading.Lock()


def _register(df: DataFrame, is_barrier: bool) -> DataFrame:
    with _LOCK:
        _ENTRIES.append((OWNER.get(), df, is_barrier))
    return df


def track_cache(df: DataFrame) -> DataFrame:
    """``df.cache()`` + register the frame for a later bulk release."""
    return _register(df.cache(), False)


def warm_cache(df: DataFrame) -> DataFrame:
    """:func:`track_cache` + an eager ``count()`` so the cache is POPULATED
    before any multi-branch consumer query runs.

    Why eager: AQE materializes a query's independent exchange branches as
    CONCURRENT jobs.  Two branches scanning the same *cold* cached frame
    race — block-manager cache population is first-writer-wins but not
    compute-synchronized, and on a multi-executor fleet the branches land
    on different JVMs where the other's freshly-written blocks are not yet
    visible, so each branch recomputes the full upstream (measured on the
    N→4N scaling legs: the Arrow signature/fingerprint subtrees ran TWICE
    on local-cluster[4,2], duplicating ~345 MB of shuffle writes and ~70
    busy core-seconds per run at 100k docs, while local-cluster[1,2]'s
    FIFO task queue hid the race).  Populating the cache with one cheap
    action serializes exactly one computation; warm blocks are then
    remote-fetched, never recomputed.  The extra job costs one driver
    round-trip (~0.2 s) — noise against the duplicated stage it prevents.

    Only for frames whose cache population was going to happen anyway
    (multi-consumer track_cache targets); the count is a scan of the frame
    being cached, not extra work.
    """
    df = track_cache(df)
    df.count()
    return df


def materialize_barrier(df: DataFrame) -> DataFrame:
    """Eagerly materialize a SMALL, expensive, multiply-consumed frame and
    truncate its lineage; the checkpointed frame is registered for release.

    Why not ``cache()`` + ``count()``: observed on Spark 4.1.2, an
    InMemoryRelation whose child is an AQE plan embedding the candidate
    verify/anti-join subtrees re-executes that child on EVERY consuming
    action, even with ``isCachedColumnBuffersLoaded == true`` and all
    partitions present in storage (the TableCacheQueryStage re-materializes
    nested query stages).  Diagnosed by counting a fully-cached 249-row pair
    frame repeatedly: 7-17 s per count, event log showing the full union /
    window / ArrowEvalPython stages re-running each time.  ``localCheckpoint``
    cuts the plan at materialized blocks, so downstream consumers — including
    the CC edge truncation and PipelineResult.pairs — read blocks, period.

    Scale note: localCheckpoint is explicitly NON-fault-tolerant — lineage
    is truncated, so an executor lost after the barrier fails the JOB (the
    blocks cannot be recomputed); it never yields wrong results, but on a
    real cluster where executor loss must be survivable, use the RELIABLE
    path instead (SnapshotStore parquet staging / CC's checkpoint_dir mode —
    both available whenever a checkpoint dir is configured).  Use barriers
    only for frames orders of magnitude smaller than the corpus
    (candidate/verified pair sets).

    The blocks belong to the checkpointed RDD under the returned frame's
    ``LogicalRDD`` plan, which ``DataFrame.unpersist`` cannot reach;
    :func:`release_caches` frees them through that RDD.
    """
    return _register(df.localCheckpoint(eager=True), True)


def release_caches(blocking: bool = False, owner: object | None = None) -> int:
    """Free the frames registered by ``owner`` (every frame when ``owner`` is
    None), newest first; returns how many were released.

    A cached frame is unpersisted; a barrier frees the blocks of its
    checkpointed RDD.  For plain tracked caches this is safe at any time —
    consumers that still hold a released frame recompute it from lineage.
    Barrier frames are gone for good, so call this only once the run's
    results are materialized.  Frames whose session has already stopped are
    skipped silently.
    """
    with _LOCK:
        mine = [e for e in _ENTRIES if owner is None or e[0] is owner]
        _ENTRIES[:] = [e for e in _ENTRIES if not (owner is None or e[0] is owner)]
    n = 0
    for _, df, is_barrier in reversed(mine):
        try:
            if is_barrier:
                df._jdf.queryExecution().logical().rdd().unpersist(blocking)
            else:
                df.unpersist(blocking)
            n += 1
        except Exception:
            pass  # session stopped / frame invalid — nothing left to free
    return n
