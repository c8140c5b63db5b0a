"""Checkpoint + table IO.

Iteration state is persisted one immutable Parquet snapshot per iteration
(``runs/<run_id>/iter=<i>/``), with a JSON ``MANIFEST.json`` written *last*
as the commit marker. The manifest carries per-partition lineage (file ->
row count/bytes, read from Parquet footers — no extra Spark job) plus the
iteration's convergence metrics.

Resume semantics: TRUE mid-iteration resume (north rule). Before each
state write the writer seals a STAGING declaration (iteration, partition
count, hash(vid) layout) and writes the state hash-partitioned so the
Parquet ``part-NNNNN`` index IS the ``pmod(hash(vid), P)`` partition. A
crash mid-write leaves the declaration plus a subset of complete partition
files; resume recomputes ONLY the missing hash partitions (a filtered
update against the previous sealed state), appends them, seals the
iteration, and continues. Debris without a staging declaration (unknown
layout) is ignored and recovery falls back to the last committed iteration
boundary. Sub-task retry inside a live job remains Spark's own
lineage/shuffle-retry territory.

One filesystem: every manifest, staging marker, listing and footer read
goes through the Hadoop FileSystem API of the live JVM (``spark._jvm``),
the same storage layer ``df.write.parquet``/``spark.read.parquet`` use for
the data. A path therefore resolves identically for both: a schemeless
base dir means ``fs.defaultFS`` (HDFS on a cluster, the local disk in
``local[n]``), and ``hdfs://``, ``s3a://`` or ``file://`` URIs mean what
they say.

Why Parquet-per-iteration and not ``df.checkpoint()``/``localCheckpoint()``:
it cuts lineage (constant-depth plans across iterations), survives process
death, and is resumable across *sessions* — ``.checkpoint()`` is RDD-format
and session-bound (SURVEY.md §4.3.5). All table IO goes through
``load_source`` so local Parquet and cluster Iceberg are one call site.
"""

from __future__ import annotations

import json
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession

MANIFEST = "MANIFEST.json"
STAGING = "STAGING.json"


def load_source(spark: SparkSession, location: str, table: bool = False) -> DataFrame:
    """The SC1/SC2 seam: local partitioned Parquet now, Iceberg catalog table
    on a real cluster (``spark.read.table("cat.db.source_files")``) — the
    Iceberg runtime jar is absent offline (SURVEY.md §7.5)."""
    if table:
        return spark.read.table(location)
    return spark.read.parquet(location)


# ------------------------------------------------------------------ FS seam


class _HadoopFS:
    """Manifest/lineage IO through the Hadoop FileSystem API of the live
    JVM: the filesystem ``df.write.parquet`` resolves the same path
    against, so markers and data always land side by side."""

    def __init__(self, spark: SparkSession, path: str):
        jvm = spark._jvm
        self._jvm = jvm
        self._conf = spark._jsc.hadoopConfiguration()
        self._fs = self._p(path).getFileSystem(self._conf)

    def _p(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def makedirs(self, path: str) -> None:
        self._fs.mkdirs(self._p(path))

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._p(path)))

    def listdir(self, path: str) -> list[str]:
        return [
            st.getPath().getName()
            for st in self._fs.listStatus(self._p(path))
        ]

    def size(self, path: str) -> int:
        return int(self._fs.getFileStatus(self._p(path)).getLen())

    def read_bytes(self, path: str) -> bytes:
        stream = self._fs.open(self._p(path))
        baos = self._jvm.java.io.ByteArrayOutputStream()
        # copyBytes(close=True) closes both streams when done.
        self._jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 65536, True)
        return bytes(baos.toByteArray())

    def write_atomic(self, path: str, data: bytes) -> None:
        # Write-then-rename: the final name's existence IS the commit. A
        # crash mid-write leaves a .tmp that resume ignores.
        tmp = self._p(path + ".tmp")
        stream = self._fs.create(tmp, True)
        try:
            stream.write(data)
        finally:
            stream.close()
        # Hadoop rename is atomic per-file on HDFS; on object stores it is
        # copy+delete, still safe here because the manifest is tiny and the
        # reader only trusts the final name.
        dst = self._p(path)
        if self._fs.exists(dst):
            self._fs.delete(dst, False)
        self._fs.rename(tmp, dst)

    def delete(self, path: str, recursive: bool = False) -> None:
        self._fs.delete(self._p(path), recursive)

    def parquet_num_rows(self, path: str) -> int:
        """The footer's row count, read in the JVM (only the footer moves)."""
        jvm = self._jvm
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                self._p(path), self._conf
            )
        )
        try:
            return int(reader.getRecordCount())
        finally:
            reader.close()


# --------------------------------------------------------------- checkpoint


def _file_lineage(fs, state_dir: str) -> list[dict[str, Any]]:
    """Per-partition lineage from Parquet footers (no Spark job)."""
    out = []
    for f in sorted(fs.listdir(state_dir)):
        if not f.endswith(".parquet"):
            continue
        fp = state_dir.rstrip("/") + "/" + f
        out.append(
            {"file": f, "rows": fs.parquet_num_rows(fp), "bytes": fs.size(fp)}
        )
    return out


class RunCheckpoint:
    """Per-run checkpoint directory with commit-marker manifests.

    ``base_dir`` is any Hadoop-resolvable path: schemeless (``fs.defaultFS``)
    or a URI (``hdfs://nn/runs``, ``s3a://bucket/runs``, ``file:///runs``).
    ``spark`` defaults to the active session.
    """

    def __init__(
        self,
        base_dir: str,
        run_id: str | None = None,
        spark: SparkSession | None = None,
    ):
        spark = spark or SparkSession.getActiveSession()
        if spark is None:
            raise ValueError(
                "RunCheckpoint needs a live SparkSession for filesystem access"
            )
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.dir = base_dir.rstrip("/") + "/" + self.run_id
        self._fs = _HadoopFS(spark, self.dir)
        self._fs.makedirs(self.dir)

    def state_path(self, it: int) -> str:
        return f"{self.dir}/iter={it}/state"

    def _manifest_path(self, it: int) -> str:
        return f"{self.dir}/iter={it}/{MANIFEST}"

    def write_data(self, df: DataFrame, it: int) -> None:
        """Stage the state parquet WITHOUT committing (no manifest yet).
        Lets callers run cheap post-write aggregates (e.g. the convergence
        delta) over the materialized files before sealing the iteration."""
        df.write.mode("overwrite").parquet(self.state_path(it))

    def commit(self, it: int, metrics: dict[str, Any], columns: list[str]) -> None:
        path = self.state_path(it)
        manifest = {
            "iter": it,
            "metrics": metrics,
            "partitions": _file_lineage(self._fs, path),
            "columns": columns,
        }
        self._fs.write_atomic(
            self._manifest_path(it), json.dumps(manifest).encode("utf-8")
        )

    # ---- mid-iteration salvage (north rule: "runs resume mid-iteration").
    # Protocol: the writer (a) seals iteration i with MANIFEST, (b) writes
    # STAGING for i+1 declaring the partition layout, (c) writes the
    # hash(vid)-partitioned state files, (d) seals i+1. A crash inside (c)
    # leaves STAGING + a prefix of the partition files; resume then
    # recomputes ONLY the missing hash partitions (filtered update against
    # the sealed i state) instead of redoing the whole iteration.

    def _staging_path(self, it: int) -> str:
        return f"{self.dir}/iter={it}/{STAGING}"

    def stage_marker(self, it: int, n_partitions: int) -> None:
        """Declare an in-flight iteration write: the files that follow are
        partitioned by ``pmod(hash(vid), n_partitions)`` with the file's
        ``part-NNNNN`` index equal to the hash partition (enforced by the
        writer's repartition). Written BEFORE the data; removed implicitly
        by the commit manifest superseding it."""
        self._fs.makedirs(f"{self.dir}/iter={it}")
        self._fs.write_atomic(
            self._staging_path(it),
            json.dumps(
                {
                    "iter": it,
                    "n_partitions": n_partitions,
                    "layout": "pmod(hash(vid), n_partitions) == part index",
                }
            ).encode("utf-8"),
        )

    def staging_info(self, it: int) -> dict[str, Any] | None:
        """The staging declaration of an UNCOMMITTED iteration (None if the
        iteration was never staged or is already committed)."""
        if self._fs.exists(self._manifest_path(it)):
            return None
        if not self._fs.exists(self._staging_path(it)):
            return None
        return json.loads(self._fs.read_bytes(self._staging_path(it)))

    def staged_partitions(self, it: int) -> dict[int, str]:
        """partition-index -> filename for every COMPLETE staged state file
        (Parquet footer parses; a file truncated by the crash does not).

        A truncated file is DELETED on detection (ADVICE r2): leaving it on
        disk would make the post-salvage ``read()`` fail on the corrupt
        footer — or, worse, leave both the truncated and the recomputed file
        for the same partition index in the directory."""
        path = self.state_path(it)
        out: dict[int, str] = {}
        if not self._fs.exists(path):
            return out
        for f in self._fs.listdir(path):
            if not f.startswith("part-") or not f.endswith(".parquet"):
                continue
            try:
                self._fs.parquet_num_rows(f"{path}/{f}")
            except Exception:  # noqa: BLE001 — truncated mid-crash
                self._fs.delete(f"{path}/{f}")
                continue
            out[int(f.split("-")[1])] = f
        return out

    def clear_job_debris(self, it: int) -> None:
        """Remove the crashed write job's committer debris from an
        UNCOMMITTED staged state dir, before any salvage append (ADVICE r2).

        With FileOutputCommitter v1 the job-attempt path ``_temporary/0`` is
        shared across jobs writing to the same directory: a crash mid-write
        can leave *committed task dirs* under ``_temporary/0`` whose part
        files never reached the final dir. If they survive, the salvage
        append job's commitJob merges BOTH its own task outputs AND the
        stale ones — silently duplicating rows for those hash partitions in
        the sealed state. ``_SUCCESS`` is cleared too so the directory never
        looks like a completed vanilla write mid-salvage."""
        path = self.state_path(it)
        if not self._fs.exists(path):
            return
        self._fs.delete(f"{path}/_temporary", recursive=True)
        self._fs.delete(f"{path}/_SUCCESS")

    def committed_iters(self) -> list[int]:
        out = []
        if not self._fs.exists(self.dir):
            return out
        for d in self._fs.listdir(self.dir):
            if d.startswith("iter=") and self._fs.exists(
                f"{self.dir}/{d}/{MANIFEST}"
            ):
                out.append(int(d.split("=", 1)[1]))
        return sorted(out)

    def latest(self) -> int | None:
        its = self.committed_iters()
        return its[-1] if its else None

    def read(self, spark: SparkSession, it: int) -> DataFrame:
        return spark.read.parquet(self.state_path(it))

    def manifest(self, it: int) -> dict[str, Any]:
        return json.loads(self._fs.read_bytes(self._manifest_path(it)))

    def metrics_history(self) -> list[dict[str, Any]]:
        return [self.manifest(i)["metrics"] for i in self.committed_iters()]
