"""Stage checkpoint/resume (north rule F9).

The reference's move stage is fail-fast and non-resumable — a mid-stage error
leaves partial moves on disk (reference src/operations.rs:52-55).  This module
is the fix the north rule mandates: every pipeline stage writes its output as
an immutable snapshot directory keyed by ``(stage_name, config_hash)``, with a
manifest recording lineage (upstream stages, row counts, per-partition
counters) — on restart, completed stages load from snapshot instead of
recomputing.  Parquet snapshot dirs stand in for Iceberg snapshots in the
sandbox; the interface is format-agnostic (an Iceberg catalog would swap in at
``_write``/``_read``).

Validity is keyed on BOTH the config hash and an ``input_id`` (a digest of the
input's file listing — ``input_identity``): rerunning against a different
corpus with the same checkpoint dir must recompute, never resume the previous
corpus's stage outputs.

One commit protocol, manifest-last: any stale manifest is deleted first,
data files are written directly to the final directory, and the manifest is
written last as the single-file commit point.  A killed run leaves data
without a manifest → ``has()`` is false → the stage recomputes and
overwrites.  The protocol needs no atomic directory rename, so it ports to
an object store (single-object PUTs are atomic on S3/GCS) or an Iceberg
commit; the snapshot I/O itself is still local-filesystem (``os.*`` for the
manifest and the part listing, a local path for the parquet data).
Directories written by the former rename protocol have the same layout
(``data/`` + ``_MANIFEST.json``), so they still resume.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from camden_spark.plans.metrics import observed


#: bump when snapshot semantics change (e.g. a stage's dataflow is fixed) —
#: old-version manifests are treated as absent, never resumed.  v3: ``exact``
#: carries ``canon_url``; ``clusters`` no longer runs CC over exact stars.
MANIFEST_VERSION = 3


def hadoop_file_stat(spark: SparkSession, uri: str) -> tuple[int, int]:
    """(size_bytes, mtime_ms) of ``uri`` via the Hadoop FileSystem API —
    works for ANY scheme with a configured connector (file, hdfs, s3a, gs),
    unlike ``os.stat`` which only sees the local filesystem.  Millisecond
    mtime granularity (Hadoop's contract) — coarser than POSIX ns but still
    catches in-place regeneration; raises on missing files/connectors."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(uri)
    st = p.getFileSystem(conf).getFileStatus(p)
    return int(st.getLen()), int(st.getModificationTime())


def input_identity(df: DataFrame) -> str:
    """Stable identity of a file-backed input: digest of the sorted file
    listing WITH per-file size and mtime — a corpus regenerated in place
    under the same file names (datagen writes fixed names) must change the
    identity.  Conservative by design: touching files forces a recompute.

    Local/file URIs are stat'ed with ``os.stat`` (nanosecond mtime); any
    other scheme (s3a://, gs://, hdfs://) goes through the Hadoop FileSystem
    API (``hadoop_file_stat``) so object-store corpora regenerated in place
    under the same keys still change the identity — without this, the
    signature would degrade to the bare file listing exactly on the
    deployments the manifest-last commit protocol targets.  A file whose
    stat fails on both paths contributes its name only.  Empty string for
    in-memory/non-file sources (identity unknown — such checkpoints are only
    as safe as the caller's discipline)."""
    import os as _os
    from urllib.parse import unquote, urlparse

    try:
        files = sorted(df.inputFiles())
    except Exception:
        files = []
    if not files:
        return ""
    h = hashlib.sha256()
    for f in files:
        parsed = urlparse(f)
        # inputFiles() returns percent-encoded URIs — unquote, or paths with
        # spaces/non-ASCII silently lose the size+mtime signature
        sig = f
        if parsed.scheme in ("", "file"):
            try:
                st = _os.stat(unquote(parsed.path))
                # nanosecond mtime: whole seconds leave a same-second
                # regeneration with unchanged sizes undetectable
                sig = f"{f}|{st.st_size}|{st.st_mtime_ns}"
            except OSError:
                pass
        else:
            try:
                size, mtime_ms = hadoop_file_stat(df.sparkSession, f)
                sig = f"{f}|{size}|{mtime_ms}ms"
            except Exception:
                pass
        h.update(sig.encode())
        h.update(b"\n")
    return f"{len(files)}-{h.hexdigest()[:16]}"


@dataclass
class SnapshotStore:
    """Config-hash + input-identity keyed snapshot directory tree."""

    root: str
    config_hash: str
    input_id: str = ""
    #: stages completed this run or resumed (name → manifest dict)
    lineage: dict[str, dict] = field(default_factory=dict)

    def _stage_dir(self, stage: str) -> str:
        return os.path.join(self.root, self.config_hash, stage)

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self._stage_dir(stage), "_MANIFEST.json")

    def has(self, stage: str) -> bool:
        """Snapshot present AND valid for this (config, input)."""
        path = self._manifest_path(stage)
        if not os.path.exists(path):
            return False
        try:
            with open(path) as f:
                manifest = json.load(f)
        except (OSError, json.JSONDecodeError):
            return False
        return (
            manifest.get("version") == MANIFEST_VERSION
            and manifest.get("config_hash") == self.config_hash
            and manifest.get("input_id", "") == self.input_id
        )

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        with open(self._manifest_path(stage)) as f:
            self.lineage[stage] = json.load(f)
        return spark.read.parquet(os.path.join(self._stage_dir(stage), "data"))

    def write(
        self,
        df: DataFrame,
        stage: str,
        upstream: list[str] | None = None,
        counters: dict[str, int] | None = None,
    ) -> DataFrame:
        """Write df as the stage snapshot; returns the re-read DataFrame
        (reading back truncates lineage, like a checkpoint)."""
        spark = df.sparkSession
        # invalidate first, write in place, manifest last
        manifest_path = self._manifest_path(stage)
        if os.path.exists(manifest_path):
            os.remove(manifest_path)
        data_dir = os.path.join(self._stage_dir(stage), "data")
        # row count rides an Observation on the write action — no second scan
        obs = Observation(f"snapshot_{stage}")
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).parquet(data_dir)
        counted = observed(obs)  # None if the write ran no job
        rows = (
            counted["rows"]
            if counted is not None
            else spark.read.parquet(data_dir).count()
        )
        parts = sorted(
            f for f in os.listdir(data_dir) if f.startswith("part-")
        )
        manifest = {
            "version": MANIFEST_VERSION,
            "stage": stage,
            "config_hash": self.config_hash,
            "input_id": self.input_id,
            "rows": rows,
            "num_partitions": len(parts),
            "partitions": parts,
            "upstream": upstream or [],
            "counters": counters or {},
            "written_at": time.time(),
        }
        with open(manifest_path, "w") as f:
            json.dump(manifest, f, indent=2)
        self.lineage[stage] = manifest
        return spark.read.parquet(data_dir)

    def stage(
        self,
        spark: SparkSession,
        name: str,
        build,
        upstream: list[str] | None = None,
        counters: dict[str, int] | None = None,
    ) -> DataFrame:
        """Resume-or-compute: load the snapshot if present and valid for this
        (config, input), else call ``build()`` and persist its result."""
        if self.has(name):
            return self.read(spark, name)
        return self.write(build(), name, upstream=upstream, counters=counters)
