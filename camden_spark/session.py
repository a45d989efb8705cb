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


def get_spark(
    app_name: str = "camden_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS (driver contract) or 32.
    Key scale settings:

    * AQE on (runtime shuffle-partition coalescing + skew-join splitting —
      the automatic half of our band-skew story; the explicit half is
      mega-band capping in operators/lsh.py)
    * Arrow enabled with bounded batch size so pandas-UDF batches over long
      documents have bounded memory
    * UTC session timezone so timestamp semantics match the DuckDB oracle
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
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
    # master override for the executor-shape scaling legs: e.g.
    # SPARK_GRAFT_MASTER=local-cluster[4,2,6144] runs 4 executor JVMs x 2
    # cores x 6144 MB — real cross-executor netty shuffle, the N→4N shape
    # of the north rule, still on one box (see bench_scaling.py --exec-legs)
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
        # Env-overridable for deployments that prefer the Spark default.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_MIN_PARTITION_SIZE", "64k"),
        )
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
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "512"),
        )
        # the sig_backend="jvm" signature stage is ONE HashAggregate with 193
        # output fields (128 MinHash min-slots + 64 SimHash bit sums +
        # count); the default maxFields=100 silently knocks it out of
        # whole-stage codegen.  512 restores codegen for wide aggregates
        # (Spark splits the generated code into sub-64KB methods, so the
        # ceiling is safe).  Measured effect on that stage is small — its
        # cost lives in the interpreted-HOF shingle Generate, which no
        # codegen setting reaches — but interpreted wide aggregates burn
        # memory bandwidth this box shares across cores, so keep it on.
        .config("spark.sql.codegen.maxFields", "512")
        # the generated-class cache defaults to 100 entries; one pass over
        # this engine's query suite generates several hundred codegen units,
        # so every repeat run recompiled everything — and Janino compilation
        # is the hidden serial cost of small stages (first task compiles,
        # its 31-63 siblings block on the generator cache: the measured
        # run≫cpu stages with zero fetch/GC).  10k entries keeps a session's
        # compiled classes resident (repeat embedding_near_dup_lsh run:
        # 6.1 s → 4.0 s); bounded, so long-lived sessions stay safe.
        .config(
            "spark.sql.codegen.cache.maxEntries",
            os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "10000"),
        )
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
    # there (stage/task timelines) — used by tools/stage_profile.py to find
    # under-parallelized stages; zero overhead when unset
    ev_dir = os.environ.get("SPARK_GRAFT_EVENTLOG_DIR")
    if ev_dir:
        os.makedirs(ev_dir, exist_ok=True)
        builder = builder.config("spark.eventLog.enabled", "true").config(
            "spark.eventLog.dir", ev_dir
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
    # generic conf passthrough for benchmarking/ops: semicolon-separated
    # key=value pairs (env names cannot carry spark.* dots)
    extra_env = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for pair in filter(None, (p.strip() for p in extra_env.split(";"))):
        k, _, v = pair.partition("=")
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
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


#: affinity mask of this process BEFORE pin_executor_fleet first pinned it
#: (see the validation comment inside pin_executor_fleet)
_ORIG_AFFINITY: set[int] | None = None


def pin_executor_fleet(
    spark: SparkSession,
    cores_per_exec: int,
    driver_cores: int = 2,
    timeout_s: float = 120.0,
) -> dict[int, list[int]] | None:
    """Pin each local-cluster executor JVM to its OWN disjoint CPU slice and
    the driver (this python process + the in-process gateway JVM holding
    master/workers/driver) to a separate reserved slice.

    Why: the N→4N executor-shape scaling legs must give each executor
    exactly ``cores_per_exec`` cores — like a real node — and keep the
    driver off executor silicon (a real cluster's driver is a separate
    machine).  Executor JVMs are children of the gateway JVM, so a plain
    parent ``taskset`` gives every executor the UNION of cores and lets the
    scheduler float them; per-TID ``sched_setaffinity`` over every thread in
    ``/proc/<pid>/task`` (taskset -a semantics — a bare pid call would bind
    only the JVM's main thread) removes that freedom.  Python UDF daemons
    fork from their executor at its first UDF task, after this runs, and
    inherit the executor's slice.

    Returns {executor_pid: [cores]} or None when the master is not
    local-cluster.  Raises if fewer executors than the master string
    promises register within ``timeout_s``.
    """
    import re
    import subprocess
    import time

    sc = spark.sparkContext
    m = re.match(r"local-cluster\[(\d+),", sc.master)
    if m is None:
        return None
    n_exec = int(m.group(1))
    # one Catalyst-only job (no python workers forked yet) blocks until the
    # fleet has registered and can run tasks
    spark.range(0, n_exec * cores_per_exec, 1, n_exec * cores_per_exec).count()
    app_id = sc.applicationId
    deadline = time.time() + timeout_s
    pids: list[int] = []
    while time.time() < deadline:
        out = subprocess.run(
            ["pgrep", "-f", "CoarseGrainedExecutorBackend"],
            capture_output=True, text=True,
        ).stdout.split()
        pids = []
        for pid in out:
            try:
                with open(f"/proc/{pid}/cmdline") as f:
                    cmd = f.read()
            except OSError:
                continue
            if app_id in cmd:
                pids.append(int(pid))
        if len(pids) >= n_exec:
            break
        time.sleep(0.5)
    if len(pids) < n_exec:
        raise RuntimeError(
            f"pin_executor_fleet: {len(pids)}/{n_exec} executors registered "
            f"for {app_id} within {timeout_s}s"
        )
    if len(pids) > n_exec:
        # more live backends than the master string promises (e.g. a worker
        # relaunched an executor between registration and pinning) — a
        # truncated sorted()[:n_exec] could pin a dead pid while a live
        # executor floats unpinned, silently skewing a leg.  Refuse.
        raise RuntimeError(
            f"pin_executor_fleet: {len(pids)} live executor backends match "
            f"{app_id} but master promises {n_exec} — fleet unstable, "
            "refusing to pin a possibly-stale subset"
        )
    # validate the full requested core range against what this process may
    # actually use BEFORE touching any thread: sched_setaffinity raises
    # OSError(EINVAL) for CPUs outside the machine/cgroup set, and a blanket
    # per-TID swallow would leave the fleet silently unpinned while the
    # caller still reports "pinned".
    need = driver_cores + n_exec * cores_per_exec
    # validate against the ORIGINAL affinity mask, snapshotted before any
    # self-pinning: this very function pins the calling process to the
    # driver slice, so a later call reading the CURRENT mask would
    # spuriously fail even though re-pinning the fleet is possible
    # (round-7 advisor fix; works across calls within one process)
    global _ORIG_AFFINITY
    if _ORIG_AFFINITY is None:
        _ORIG_AFFINITY = set(os.sched_getaffinity(0))
    avail = _ORIG_AFFINITY
    missing = set(range(need)) - avail
    if missing:
        raise RuntimeError(
            f"pin_executor_fleet: need cores 0..{need - 1} "
            f"({n_exec} executors × {cores_per_exec} + {driver_cores} driver) "
            f"but CPUs {sorted(missing)} are outside this process's "
            f"affinity set ({len(avail)} usable)"
        )

    def pin_all_threads(proc_pid: int, cpu_set: set[int]) -> None:
        # sched_setaffinity(pid) binds ONLY that one thread (the TGID's main
        # thread); a JVM has already spawned its GC/netty/task-launch threads
        # by the time the fleet registers, and those keep the launcher's
        # taskset envelope — letting executors float onto the driver slice
        # and each other's cores.  Pin every existing TID (taskset -a
        # semantics); threads created afterwards inherit from their (pinned)
        # creator.
        try:
            tids = os.listdir(f"/proc/{proc_pid}/task")
        except OSError:
            tids = [str(proc_pid)]
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpu_set)
            except ProcessLookupError:
                pass  # thread exited between listdir and the syscall
            # any other OSError (EINVAL/EPERM) is a real pin failure: the
            # range check above makes EINVAL unreachable, so let it raise
            # rather than report a shape that wasn't applied

    def alive_and_matching(proc_pid: int) -> bool:
        try:
            with open(f"/proc/{proc_pid}/cmdline") as f:
                return app_id in f.read()
        except OSError:
            return False

    drv = set(range(driver_cores))
    pin_all_threads(os.getpid(), drv)
    gateway = subprocess.run(
        ["pgrep", "-P", str(os.getpid()), "java"],
        capture_output=True, text=True,
    ).stdout.split()
    for p in gateway:
        pin_all_threads(int(p), drv)
    assign: dict[int, list[int]] = {}
    for i, pid in enumerate(sorted(pids)):
        # re-validate at pin time: the pgrep snapshot is stale by now
        if not alive_and_matching(pid):
            raise RuntimeError(
                f"pin_executor_fleet: executor pid {pid} exited between "
                "discovery and pinning — fleet unstable, rerun the leg"
            )
        cpu_set = set(
            range(driver_cores + i * cores_per_exec,
                  driver_cores + (i + 1) * cores_per_exec)
        )
        pin_all_threads(pid, cpu_set)
        assign[pid] = sorted(cpu_set)
    return assign


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
