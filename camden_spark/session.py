"""SparkSession factory with the engine's scale-oriented defaults.

Replaces the reference's ThreadingMode knob (reference src/cli.rs:14-18) with
Spark parallelism config.  Defaults are tuned for the sandbox (single-JVM
local[N]); on a real cluster the same code runs under spark-submit with
executor-level parallelism — nothing here is local-mode-specific except the
master URL, which is injectable.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession


def default_cores() -> int:
    """$SPARK_GRAFT_CPUS (the driver contract), else the CPUs this process
    may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "camden_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` defaults to ``default_cores()``.
    Key scale settings:

    * AQE on (runtime shuffle-partition coalescing + skew-join splitting —
      the automatic half of our band-skew story; the explicit half is
      mega-band capping in operators/lsh.py)
    * Arrow enabled with bounded batch size so pandas-UDF batches over long
      documents have bounded memory
    * UTC session timezone so timestamp semantics match the DuckDB oracle
    """
    cores = cores or default_cores()
    shuffle_partitions = shuffle_partitions or max(cores * 2, 8)
    # single-threaded BLAS in python workers: Spark is the parallelism
    # layer — N concurrent pandas-UDF tasks each spawning an OpenBLAS/OMP
    # thread pool oversubscribes the box N-fold (measured: the IVF
    # cell-assignment pass at 32 concurrent tasks ran 2.4x slower than
    # SERIAL until pinned to 1 BLAS thread).  Set in this process BEFORE
    # the gateway JVM spawns (local workers fork from it and inherit), and
    # mirrored to executorEnv for real clusters.  Respect explicit user
    # settings.
    blas_env = {}
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
        blas_env[var] = os.environ[var]
    # master override, a deployment setting: e.g.
    # SPARK_GRAFT_MASTER=local-cluster[4,2,6144] runs 4 executor JVMs x 2
    # cores x 6144 MB — real cross-executor netty shuffle on one box
    master = os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cores}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE sizes post-shuffle partitions by BYTES; stages whose work is
        # CPU-per-row rather than per-byte (exploded-shingle joins: ~40 B/row
        # keys fanning into O(group²) string-compare joins; id-pair verifies)
        # compress to a few hundred KB and coalesce to 1-2 tasks under the
        # default 1 MB floor — measured 4-7 s single-task join stages in
        # dedup_incremental/decontaminate at sf0.1 while 31 cores idled.
        # 64 KB keeps such stages parallel; at scale the floor is irrelevant
        # (partitions are advisory-size-bound long before a 64 KB floor).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # zstd (not the lz4 default) for shuffle/broadcast/checkpoint
        # blocks: this engine's heavy stages are byte-movement-bound, not
        # CPU-bound (pinned STREAM-triad control: 2→8 concurrent streams
        # scale at only ~0.64 on this box; real clusters pay the network
        # instead) — denser blocks trade cheap CPU for scarce bytes.
        # Measured on the N→4N legs at 100k docs: −11% wall on
        # local-cluster[4,2] (contended), ±0 on [1,2] (uncontended).
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 512 (was 2048): a pandas-UDF stage streams Arrow batches BOTH ways
        # over one loopback socket, and the task thread multiplexes write-
        # input/read-output.  When a single batch direction exceeds the
        # socket buffers (2048 rows × ~1.6 KB text in / ~1 KB signature out
        # ≈ 3-4 MB vs ~4 MB auto-tuned buffers), both windows can fill and
        # progress degrades to TCP persist-timer probes — observed as
        # multi-minute single-task stalls (thread dump: JVM in
        # PythonRunner.ReaderInputStream epoll, worker in tcp_sendmsg
        # sk_stream_wait_memory, 4.2 MB stuck in each Send-Q).  512-row
        # batches keep any burst ≲1 MB so the multiplexer always drains.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        # the generated-class cache defaults to 100 entries; one pass over
        # this engine's query suite generates several hundred codegen units,
        # so every repeat run recompiled everything — and Janino compilation
        # is the hidden serial cost of small stages (first task compiles,
        # its 31-63 siblings block on the generator cache: the measured
        # run≫cpu stages with zero fetch/GC).  10k entries keeps a session's
        # compiled classes resident (repeat embedding_near_dup_lsh run:
        # 6.1 s → 4.0 s); bounded, so long-lived sessions stay safe.
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # split input scans finely enough that a single-file corpus still
        # fans out across all cores (sized for text-heavy rows)
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
    )
    for var, val in blas_env.items():
        builder = builder.config(f"spark.executorEnv.{var}", val)
    # profiling hook: SPARK_GRAFT_EVENTLOG_DIR=<dir> writes Spark event logs
    # there (stage/task timelines) — read by perfbench/ledger.read_event_log
    # (tools/stage_profile.py, scaling_decompose.py, query_profile.py) as
    # plain JSON lines, hence uncompressed; zero overhead when unset
    ev_dir = os.environ.get("SPARK_GRAFT_EVENTLOG_DIR")
    if ev_dir:
        os.makedirs(ev_dir, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", ev_dir)
            .config("spark.eventLog.compress", "false")
        )
    if master.startswith("local-cluster"):
        # executor JVMs run python UDF workers from a spark-work temp dir,
        # not the repo — cloudpickle pickles our module-level UDF kernels by
        # REFERENCE, so the workers must be able to import camden_spark
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        prev = os.environ.get("PYTHONPATH", "")
        builder = builder.config(
            "spark.executorEnv.PYTHONPATH",
            repo_root + ((":" + prev) if prev else ""),
        )
    # the one conf override path, applied after every default above:
    # semicolon-separated key=value pairs (env names cannot carry spark.*
    # dots), e.g. SPARK_GRAFT_EXTRA_CONF="spark.eventLog.compress=false"
    extra_env = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for pair in filter(None, (p.strip() for p in extra_env.split(";"))):
        k, _, v = pair.partition("=")
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # a running session silently keeps its launch-time confs: surface that
    live = spark.sparkContext.getConf()
    stale = {
        k: (v, live.get(k, None)) for k, v in builder._options.items()
        if k.startswith(("spark.executorEnv.", "spark.sql.codegen.cache."))
        and live.get(k, None) != v
    }
    if stale:
        msg = f"get_spark: running session ignores (requested, effective) {stale}"
        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return spark


def warm_python_workers(spark: SparkSession, cores: int | None = None) -> None:
    """Run one tiny Spark job.  Despite the name it starts NO Python worker.

    It was meant to pre-fork one UDF worker per core and pre-import
    numpy/pandas, but under ``count()`` Catalyst prunes the unused ``_warm``
    column, so no UDF runs: no ``pyspark.daemon`` exists after the call,
    while an ``agg(sum(_warm(id)))`` starts one per core.  The first Arrow-UDF
    stage therefore still pays the daemon fork and the per-worker
    ``import numpy, pandas``.  Nothing in the engine, CLI, bench or tools
    calls it; it stays only because the benchmark harness
    (perfbench/worker.py) imports it.
    """
    import pyspark.sql.functions as F

    cores = cores or spark.sparkContext.defaultParallelism

    @F.pandas_udf("long")
    def _warm(s):  # noqa: ANN001 - pandas_udf signature
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        return s

    spark.range(0, cores * 2, 1, cores * 2).select(_warm("id")).count()
