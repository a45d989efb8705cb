"""Benchmark for the camden_spark dedup CLI.

Usage, from the repository root::

    python3 perfbench/run.py --workload web_mixed --seed 1 --seconds 10 --trace 0

One closed-loop client runs one CLI pipeline at a time, each in a fresh
process on ``local[nproc]``; ``--seconds`` bounds the summed pipeline time
of a run, and at least one pipeline always runs.  Inputs are generated from
``--seed`` with ``camden_spark.datagen`` before any clock starts; the
program sees only the parquet files.

Every pipeline's output is checked: each input url once in the clusters,
ground-truth pair recall at least 0.99 (the north-star bound), and the
``(url, cluster_id)`` checksum equal to the one recorded in
``perfbench/expected.json`` for that workload, size and seed when recorded.
An operation that raises or fails a check counts as failed.

``--trace 0`` prints the end-to-end metrics, medians over the run's
pipelines:

* ``setup_s``      process launch until the session is up and the Python
                   workers are warm
* ``docs_per_sec`` input docs / wall of ``main.run`` after set-up (pipeline,
                   sinks, summary)
* ``pair_recall``, ``pair_precision``  against the generated ground truth
* ``peak_rss_mb``  peak of the summed proportional set size of the process
                   tree (driver, JVM, Python workers), sampled from /proc
* ``success_rate`` pipelines that passed every check / pipelines attempted

Both timings are scaled by (1 - steal), the share of CPU time the
hypervisor gave to other guests while they ran (/proc/stat), so that a
busy host does not read as a slower program; the raw walls and steal
shares go to stderr, one line per pipeline.

``--trace 1`` runs the traced twin of the pipeline (``perfbench/traced.py``)
in a fresh process, requires its clusters to hash like the untraced
pipeline's on the same input, and prints the per-layer ledger parsed from
its event log (``perfbench/ledger.py``).  The untraced side is an earlier
``--trace 0`` run of the same seed in this checkout, kept in
``.perfbench_work/untraced-*.jsonl``, or else an untraced run made now.  The
span rows are also written to ``.perfbench_work/trace-<workload>.json``.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

from ledger import (
    cpu_ticks,
    engine_totals,
    flatten,
    per_group,
    read_event_log,
    span_ledger,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

#: per-run wall-clock budget; the whole invocation must end within 180 s
RUN_BUDGET_S = 170.0
#: driver heap: the pipelines here peak near 3 GB of process-tree memory on
#: a 15 GB box that other work shares
DRIVER_MEM = "2g"

WORKLOADS = {
    # default datagen mix: exact, near, SimHash-only, substring, 10%
    # boilerplate, singletons; every near-dup stage on
    "web_mixed": {"docs": 4000, "gen": {}, "flags": []},
    # camden's checksum semantics only: a larger corpus with a high exact-dup
    # share and no planted near-dups; the near-dup stages are switched off
    "exact_only": {
        "docs": 20000,
        "gen": {"exact_frac": 0.4, "near_frac": 0.0, "simhash_frac": 0.0,
                "substr_frac": 0.0},
        "flags": ["--no-lsh", "--no-simhash", "--no-substr"],
    },
}

RECALL_FLOOR = 0.99

#: end-to-end metrics → unit
E2E_UNITS = {
    "setup_s": "s",
    "docs_per_sec": "docs/s",
    "pair_recall": "ratio",
    "pair_precision": "ratio",
    "peak_rss_mb": "MB",
    "success_rate": "ratio",
}

_STD = ("wall_s", "self_s", "jobs", "task_s", "gap_s", "shuffle_bytes")
#: traced span → reported ledger keys (``<span>.<key>`` metric names)
LAYERS = {
    "session.start": ("wall_s",),
    "session.warm": ("wall_s", "jobs", "task_s", "gap_s"),
    "sources.scan": _STD + ("rows", "input_bytes"),
    "exact": _STD + ("dup_rows", "distinct_ratio"),
    "signatures": _STD + ("rows", "python_s"),
    "lsh.candidates": _STD + ("candidates", "bands_dropped"),
    "lsh.verify": _STD + ("verified", "useful_ratio", "python_s"),
    "simhash": _STD + ("pairs", "blocks_dropped"),
    "substr.fingerprints": _STD + ("python_s",),
    "substr.candidates": _STD + ("candidates", "fingerprints_dropped"),
    "substr.verify": _STD + ("verified", "useful_ratio", "python_s"),
    "cc": _STD + ("iterations", "edges"),
    "sinks": _STD + ("bytes_written",),
}
ENGINE_KEYS = _STD + ("gc_s", "spill_bytes", "failed_tasks", "unattributed_jobs")
TRACE_KEYS = ("wall_s", "overhead_s", "accounted_ratio")


def layer_units() -> dict[str, str]:
    """Every per-layer metric name → unit."""
    def unit(key: str) -> str:
        if key.endswith("_s"):
            return "s"
        if "bytes" in key:
            return "bytes"
        if key.endswith("ratio"):
            return "ratio"
        return "count"

    names = [f"{s}.{k}" for s, keys in LAYERS.items() for k in keys]
    names += [f"engine.{k}" for k in ENGINE_KEYS]
    names += [f"trace.{k}" for k in TRACE_KEYS]
    return {n: unit(n.rsplit(".", 1)[1]) for n in names}


# ---------------------------------------------------------------------------
# inputs and output checks
# ---------------------------------------------------------------------------


def make_input(workload: str, docs: int, seed: int, out_dir: str) -> dict:
    """Write the corpus; return the ground truth the outputs are checked
    against: every url, and the pairs that must share a cluster."""
    from camden_spark.datagen import generate_corpus, write_corpus

    corpus = generate_corpus(n_docs=docs, seed=seed, **WORKLOADS[workload]["gen"])
    write_corpus(corpus, out_dir)
    if WORKLOADS[workload]["flags"]:
        # exact stage only: byte-identical texts are the duplicates
        pairs = set()
        for _, grp in corpus.pages.groupby("text"):
            urls = sorted(grp["url"])
            pairs.update(
                (a, b) for i, a in enumerate(urls) for b in urls[i + 1:]
            )
    else:
        pairs = corpus.true_pairs()
    return {"urls": set(corpus.pages["url"]), "pairs": pairs}


def check_output(out_dir: str, truth: dict) -> dict:
    """Checksum, recall and precision of the written clusters."""
    import pyarrow.parquet as pq

    table = pq.read_table(os.path.join(out_dir, "clusters"), columns=["url", "cluster_id"])
    urls = table.column("url").to_pylist()
    cids = table.column("cluster_id").to_pylist()
    cluster = dict(zip(urls, cids))
    lines = sorted(f"{u}\t{c}" for u, c in zip(urls, cids))
    checksum = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    sizes: dict[str, int] = {}
    for c in cids:
        sizes[c] = sizes.get(c, 0) + 1
    same = sum(n * (n - 1) // 2 for n in sizes.values())
    hits = sum(cluster.get(a) is not None and cluster.get(a) == cluster.get(b)
               for a, b in truth["pairs"])
    return {
        "checksum": checksum,
        "urls_ok": len(urls) == len(cluster) and set(urls) == truth["urls"],
        "recall": hits / len(truth["pairs"]) if truth["pairs"] else 1.0,
        "precision": hits / same if same else 1.0,
    }


def load_expected() -> dict:
    with open(os.path.join(HERE, "expected.json")) as fh:
        return json.load(fh)


def _records_path(workload: str, docs: int) -> str:
    """Untraced results of one workload and size, for this exact program
    source: an edit to the program starts a new record file."""
    digest = hashlib.sha256()
    paths = [os.path.join(ROOT, "main.py")] + sorted(
        os.path.join(d, f)
        for d, _, files in os.walk(os.path.join(ROOT, "camden_spark"))
        for f in files if f.endswith(".py")
    )
    for path in paths:
        with open(path, "rb") as fh:
            digest.update(os.path.relpath(path, ROOT).encode() + b"\0" + fh.read())
    return os.path.join(WORK, f"untraced-{workload}-{docs}-{digest.hexdigest()[:12]}.jsonl")


def record_untraced(workload: str, docs: int, seed: int, ops: list[dict]) -> None:
    """Keep each passing untraced pipeline's checksum and wall in the work
    directory, for the traced runs of the same checkout to compare with."""
    with open(_records_path(workload, docs), "a") as fh:
        for o in ops:
            if "failure" not in o:
                fh.write(json.dumps({"seed": seed, "checksum": o["checksum"],
                                     "op_s": o["op_s"]}) + "\n")


def load_untraced(workload: str, docs: int) -> list[dict]:
    try:
        with open(_records_path(workload, docs)) as fh:
            return [json.loads(line) for line in fh if line.strip()]
    except FileNotFoundError:
        return []


# ---------------------------------------------------------------------------
# child processes
# ---------------------------------------------------------------------------


def _stat(pid: int) -> tuple[int, int] | None:
    """(ppid, starttime) of a live pid, from /proc/<pid>/stat."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return int(fields[1]), int(fields[19])


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared by forked Python workers are
    split between them instead of counted once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class TreeSampler(threading.Thread):
    """Samples the memory of a process and all its descendants (driver, JVM,
    Python workers) from /proc, summing each process's proportional set
    size; remembers every pid it saw so the tree can be reaped after the
    root exits."""

    def __init__(self, root_pid: int, interval: float = 0.5) -> None:
        super().__init__(daemon=True)
        self.root_pid = root_pid
        self.interval = interval
        self.peak_bytes = 0
        self.seen: dict[int, int] = {}  # pid → starttime
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        kids: dict[int, list[int]] = {}
        start = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    start[int(name)] = st[1]
                    kids.setdefault(st[0], []).append(int(name))
        total, todo = 0, [self.root_pid]
        while todo:
            pid = todo.pop()
            if pid in start:
                total += _pss_bytes(pid)
                self.seen[pid] = start[pid]
            todo.extend(kids.get(pid, []))
        self.peak_bytes = max(self.peak_bytes, total)

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.sample()
            self._stop_evt.wait(self.interval)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()

    def reap(self, grace: float = 10.0) -> None:
        """Wait for every process of the tree to end; kill stragglers."""
        def alive() -> list[int]:
            return [p for p, t in self.seen.items() if (_stat(p) or (0, -1))[1] == t]

        deadline = time.time() + grace
        while alive() and time.time() < deadline:
            time.sleep(0.1)
        for sig in (signal.SIGTERM, signal.SIGKILL):
            for pid in alive():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            end = time.time() + 5
            while alive() and time.time() < end:
                time.sleep(0.1)


def child_env(run_dir: str, event_dir: str | None) -> dict:
    """Pinned run environment: cores = nproc, a driver heap that fits the
    box, Spark scratch and temp files inside the run directory."""
    env = {
        k: v for k, v in os.environ.items()
        if not k.startswith(("SPARK_GRAFT_", "SPARK_LOCAL_DIRS", "PYSPARK_"))
    }
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env.update(
        PYTHONPATH=ROOT + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        SPARK_GRAFT_EXTRA_CONF="spark.eventLog.compress=false",
    )
    if event_dir is not None:
        env["SPARK_GRAFT_EVENTLOG_DIR"] = event_dir
    return env


def run_child(spec: dict, run_dir: str, timeout: float) -> dict:
    """One fresh worker process; returns its result plus peak RSS, or
    ``{"error": ...}``.  Every process of its tree has ended on return."""
    spec_path = os.path.join(run_dir, "spec.json")
    result_path = os.path.join(run_dir, "result.json")
    if os.path.exists(result_path):
        os.remove(result_path)
    spec = dict(spec, launched_at=time.time(), launch_ticks=cpu_ticks())
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    log_path = os.path.join(run_dir, "child.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), spec_path, result_path],
            cwd=run_dir,
            env=child_env(run_dir, spec.get("event_dir")),
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        sampler = TreeSampler(proc.pid)
        sampler.start()
        try:
            code = proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
        finally:
            sampler.stop()
            sampler.reap()
    if code != 0 or not os.path.exists(result_path):
        with open(log_path, errors="replace") as fh:
            tail = fh.read()[-2000:]
        return {"error": f"worker exit {code}: {tail}"}
    with open(result_path) as fh:
        out = json.load(fh)
    out["peak_rss_mb"] = sampler.peak_bytes / 2**20
    return out


# ---------------------------------------------------------------------------
# runs
# ---------------------------------------------------------------------------


def one_op(spec: dict, run_dir: str, truth: dict, expected: str | None,
           timeout: float) -> dict:
    """Run one pipeline and check its output; adds ``failure`` on failure."""
    shutil.rmtree(spec["output"], ignore_errors=True)
    res = run_child(spec, run_dir, timeout)
    if "error" in res:
        res["failure"] = res["error"]
        return res
    res.update(check_output(spec["output"], truth))
    if not res["urls_ok"]:
        res["failure"] = "clusters do not hold every input url exactly once"
    elif res["recall"] < RECALL_FLOOR:
        res["failure"] = f"pair recall {res['recall']:.4f} < {RECALL_FLOOR}"
    elif expected is not None and res["checksum"] != expected:
        res["failure"] = f"checksum {res['checksum']} != recorded {expected}"
    return res


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None,
                    help="override the workload's corpus size (smoke tests)")
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, "camden_spark"))
            and os.path.isfile(os.path.join(ROOT, "main.py"))):
        print(f"no camden_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    started = time.time()
    wl = WORKLOADS[args.workload]
    docs = args.docs or wl["docs"]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        truth = make_input(args.workload, docs, args.seed, os.path.join(run_dir, "input"))
        expected = load_expected().get(f"{args.workload}/{docs}/{args.seed}")
        spec = {
            "input": os.path.join(run_dir, "input"),
            "output": os.path.join(run_dir, "output"),
            "flags": wl["flags"],
            "cores": len(os.sched_getaffinity(0)),
            "trace": False,
        }

        print("env: " + json.dumps({
            "workload": args.workload, "seed": args.seed, "docs": docs,
            "cores": spec["cores"], "driver_memory": DRIVER_MEM,
            "spark_local_dirs": os.path.relpath(os.path.join(run_dir, "spark-local"), ROOT),
        }), file=sys.stderr)

        def remaining() -> float:
            return RUN_BUDGET_S - (time.time() - started)

        if args.trace:
            out = traced_run(args, docs, spec, run_dir, truth, expected, remaining)
        else:
            ops: list[dict] = []
            measured = 0.0
            while not ops or (measured < args.seconds and remaining() > 2 * max(
                    o.get("op_s", 0) + o.get("setup_s", 0) for o in ops)):
                res = one_op(spec, run_dir, truth, expected, remaining())
                ops.append(res)
                measured += res.get("op_s", 0.0)
                if "error" in res:
                    break
            out = e2e_result(ops, docs)
            record_untraced(args.workload, docs, args.seed, ops)
        for line in out.pop("notes", []):
            print(line, file=sys.stderr)
        print(json.dumps(out))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _summary(op: dict) -> str:
    """One line per operation for stderr (timings, checks, failure)."""
    return json.dumps({k: v for k, v in op.items() if k not in ("spans", "error")})


def e2e_result(ops: list[dict], docs: int) -> dict:
    ok = [o for o in ops if "failure" not in o]
    timed = [o for o in ops if "op_s" in o]

    def median(vals) -> float:
        vals = list(vals)
        return statistics.median(vals) if vals else 0.0

    metrics = {
        "setup_s": median(o["setup_s"] * (1 - o["setup_steal"]) for o in timed),
        "docs_per_sec": median(docs / (o["op_s"] * (1 - o["steal"])) for o in timed),
        "pair_recall": median(o["recall"] for o in ops if "recall" in o),
        "pair_precision": median(o["precision"] for o in ops if "precision" in o),
        "peak_rss_mb": median(o["peak_rss_mb"] for o in timed),
        "success_rate": len(ok) / len(ops),
    }
    notes = [f"op {i}: " + _summary(o) for i, o in enumerate(ops)]
    return {
        "correct": len(ok) == len(ops),
        "attempted": len(ops),
        "failed": len(ops) - len(ok),
        "metrics": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()},
        "notes": notes,
    }


def traced_run(args, docs: int, spec: dict, run_dir: str, truth: dict,
               expected: str | None, remaining) -> dict:
    """The traced pipeline and per-layer metrics.

    Its clusters must hash like the untraced pipeline's on the same input:
    an earlier untraced run of this seed in this checkout, else an untraced
    twin run now (when the time budget still holds it).  ``trace.overhead_s``
    is the traced wall minus the median untraced wall of those runs; 0 when
    there is none."""
    event_dir = os.path.join(run_dir, "events")
    traced_spec = dict(spec, trace=True, event_dir=event_dir,
                       run_id=f"{args.workload}-{args.seed}-{os.getpid()}")
    traced = one_op(traced_spec, run_dir, truth, expected, remaining())
    ops = [("traced", traced)]
    untraced = load_untraced(args.workload, docs)
    same_seed = [r for r in untraced if r["seed"] == args.seed]
    cost = traced.get("setup_s", 0) + traced.get("op_s", 0)
    if not same_seed and "failure" not in traced and remaining() > 1.3 * cost:
        twin = one_op(spec, run_dir, truth, expected, remaining())
        ops.append(("untraced", twin))
        if "failure" not in twin:
            same_seed = [twin]
            untraced.append(twin)
    if "failure" not in traced and same_seed \
            and traced["checksum"] != same_seed[0]["checksum"]:
        traced["failure"] = (f"traced checksum {traced['checksum']} != "
                             f"untraced {same_seed[0]['checksum']}")
    notes = [f"{name}: " + _summary(o) for name, o in ops]
    notes += [f"untraced checksum of seed {args.seed}: "
              + ",".join(sorted({r["checksum"] for r in same_seed}))]
    ops = [o for _, o in ops]
    failed = sum("failure" in o for o in ops)
    metrics = {name: 0 for name in layer_units()}
    if "spans" in traced:
        groups = per_group(read_event_log(event_dir))
        rows = span_ledger(traced["spans"], groups)
        metrics.update(flatten(rows, LAYERS))
        root = next(r for r in rows if r["name"] == "engine")
        eng = engine_totals(groups, traced["spans"][root["id"]])
        eng["self_s"] = root["self_s"]
        metrics.update({f"engine.{k}": eng[k] for k in ENGINE_KEYS})
        tr = [r for r in rows if r["name"] == "trace"]
        metrics["trace.wall_s"] = sum(r["wall_s"] for r in tr)
        metrics["trace.accounted_ratio"] = (
            sum(r["busy_s"] + r["gap_s"] for r in rows) / root["wall_s"]
        )
        if untraced:
            metrics["trace.overhead_s"] = traced["op_s"] - statistics.median(
                r["op_s"] for r in untraced)
        os.makedirs(WORK, exist_ok=True)
        with open(os.path.join(WORK, f"trace-{args.workload}.json"), "w") as fh:
            json.dump(rows, fh, indent=1)
    units = layer_units()
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        "notes": notes,
    }


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
