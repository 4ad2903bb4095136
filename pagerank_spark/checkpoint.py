"""Iteration-stamped checkpointing with lineage + metrics + resume.

The mandated resumability pattern (BASELINE.json north star): every
iterative operator writes its state table per iteration to the IO
layer (Iceberg on a real cluster, Parquet here — see ``io.py``),
re-reads it to truncate lineage (otherwise the driver loop chains
hundreds of joins and Catalyst analysis time explodes), and appends a
metrics row.  Resume = find the max committed iteration and continue.

Layout under ``root``:
    state/iter=<k>/...parquet   (+ _SUCCESS commit marker)
    metrics/iter=<k>/...parquet  rows (iteration, <metric cols>, wall_ms,
                                 rows, num_partitions, lineage columns)

Per-partition lineage: each state row carries ``part_id``
(``spark_partition_id()`` at write time), and the metrics row records
the partition count — enough to audit which partition produced which
rows and to re-shard deterministically on resume.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F


@contextmanager
def scoped_checkpoint(checkpoint, prefix: str, make):
    """Yield ``(manager, owned)`` for one operator call.

    A caller's ``checkpoint`` is yielded untouched (``owned`` False), so
    a later ``resume=True`` call still finds its states.  Without one,
    ``make(root)`` builds the manager over a fresh temporary root that
    is removed on every exit path (``owned`` True).  A frame the
    operator returns must not read from that root: materialise a state
    read back from it (``localCheckpoint(eager=True)``) before the
    scope closes."""
    if checkpoint is not None:
        yield checkpoint, False
        return
    with tempfile.TemporaryDirectory(prefix=prefix) as root:
        yield make(root), True


def detach(df: DataFrame, owned: bool, durable: bool) -> DataFrame:
    """``df``, safe to return from a ``scoped_checkpoint`` scope: when
    the manager is ``owned`` and the loop's last state was a ``durable``
    one, ``df`` reads from the temporary root, so it is materialised
    (``localCheckpoint(eager=True)``) before the root goes."""
    return df.localCheckpoint(eager=True) if owned and durable else df


def release(df: DataFrame) -> None:
    """Unpersist ``df``, and the RDD a ``localCheckpoint`` truncated it
    to: ``DataFrame.unpersist`` alone leaves that RDD's blocks pinned
    until the JVM happens to collect it.  Nothing may read ``df`` after."""
    df.unpersist()
    plan = df._jdf.queryExecution().logical()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)


class _PathOps:
    """Filesystem adapter for the checkpoint root.

    Plain paths use ``os``/``shutil``; any URI root (``hdfs://``,
    ``s3a://``, ``file://`` …) goes through the Hadoop ``FileSystem``
    API via the JVM gateway, so commit detection, resume, and metrics
    writes work from a ``spark-submit`` driver on a real cluster —
    driver-side ``os.listdir`` cannot see HDFS/S3.  (``file://`` URIs
    exercise the Hadoop branch against the local filesystem in tests.)
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.remote = "://" in root

    def _jpath(self, p: str):
        return self.spark._jvm.org.apache.hadoop.fs.Path(p)

    def _fs(self, p: str):
        return self._jpath(p).getFileSystem(
            self.spark._jsc.hadoopConfiguration())

    def exists(self, p: str) -> bool:
        if not self.remote:
            return os.path.exists(p)
        return bool(self._fs(p).exists(self._jpath(p)))

    def listdir(self, p: str) -> list[str]:
        if not self.remote:
            return os.listdir(p) if os.path.isdir(p) else []
        fs = self._fs(p)
        jp = self._jpath(p)
        if not fs.exists(jp):
            return []
        return [st.getPath().getName() for st in fs.listStatus(jp)]

    def mkdirs(self, p: str) -> None:
        if not self.remote:
            os.makedirs(p, exist_ok=True)
            return
        self._fs(p).mkdirs(self._jpath(p))

    def write_text(self, p: str, data: str) -> None:
        """Write-then-rename single-file write on both branches.

        Local: atomic via ``os.replace``.  Remote: Hadoop
        ``create(overwrite=True)`` truncates the DESTINATION at open
        time, so the data is written to a side file first and renamed
        over; the old content survives anything up to the final
        delete+rename pair (a crash inside that tiny window can still
        lose the previous row — HDFS has no portable atomic-replace on
        the plain FileSystem API), and a failed rename raises instead
        of silently dropping the write."""
        if not self.remote:
            tmp = p + ".tmp"
            with open(tmp, "w") as f:
                f.write(data)
            os.replace(tmp, p)
            return
        fs = self._fs(p)
        tmp = self._jpath(p + ".tmp")
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(data, "utf-8"))
        finally:
            out.close()
        dst = self._jpath(p)
        if fs.exists(dst):
            fs.delete(dst, False)
        if not fs.rename(tmp, dst):
            raise IOError(f"rename {p}.tmp -> {p} failed")

    def read_text(self, p: str) -> str | None:
        if not self.remote:
            if not os.path.exists(p):
                return None
            with open(p) as f:
                return f.read()
        fs = self._fs(p)
        jp = self._jpath(p)
        if not fs.exists(jp):
            return None
        stream = fs.open(jp)
        try:
            jvm = self.spark._jvm
            return jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8")
        finally:
            stream.close()

    def delete(self, p: str) -> None:
        if not self.remote:
            shutil.rmtree(p, ignore_errors=True)
            return
        fs = self._fs(p)
        jp = self._jpath(p)
        if fs.exists(jp):
            fs.delete(jp, True)


class CheckpointManager:
    def __init__(self, spark: SparkSession, root: str, interval: int = 1):
        self.spark = spark
        self.root = root
        self.interval = max(int(interval), 1)
        self.ops = _PathOps(spark, root)
        self.ops.mkdirs(root)

    # -- paths -----------------------------------------------------------
    def _state_dir(self, it: int) -> str:
        return os.path.join(self.root, "state", f"iter={it}")

    def _metrics_dir(self, it: int) -> str:
        return os.path.join(self.root, "metrics", f"iter={it}")

    # -- state -----------------------------------------------------------
    def should_checkpoint(self, it: int) -> bool:
        return it % self.interval == 0

    def write_state(self, df: DataFrame, it: int,
                    target_partitions: int | None = None) -> DataFrame:
        """Write state for iteration ``it`` and return the re-read frame
        (lineage truncated).  The write carries ``part_id`` lineage.

        ``target_partitions``: coalesce the write for small states — a
        15k-row state does not need 32 files; callers size this as
        ~rows/500k (min 1)."""
        path = self._state_dir(it)
        out_df = df.withColumn("part_id", F.spark_partition_id())
        if target_partitions is not None:
            out_df = out_df.coalesce(max(int(target_partitions), 1))
        out_df.write.mode("overwrite").parquet(path)
        out = self.spark.read.parquet(path).drop("part_id")
        return out

    def read_state(self, it: int) -> DataFrame:
        return self.spark.read.parquet(self._state_dir(it)).drop("part_id")

    def committed_iterations(self) -> list[int]:
        base = os.path.join(self.root, "state")
        its = []
        for name in self.ops.listdir(base):
            if not name.startswith("iter="):
                continue
            d = os.path.join(base, name)
            if self.ops.exists(os.path.join(d, "_SUCCESS")):
                its.append(int(name.split("=", 1)[1]))
        return sorted(its)

    def latest_iteration(self) -> int | None:
        its = self.committed_iterations()
        return its[-1] if its else None

    # -- metrics ---------------------------------------------------------
    # Metrics are driver-side scalars; they are written as plain JSON
    # files directly (a Spark job per metrics row costs seconds of
    # scheduling for bytes of data).
    def write_metrics(self, it: int, metrics: dict) -> None:
        import json

        row = {"iteration": it,
               **{k: float(v) if isinstance(v, (int, float)) else v
                  for k, v in metrics.items()}}
        d = self._metrics_dir(it)
        self.ops.mkdirs(d)
        self.ops.write_text(os.path.join(d, "metrics.json"), json.dumps(row))

    def read_metric(self, it: int, key: str):
        """One metric value for one iteration, or None if that
        iteration's metrics were never committed (driver-side file
        read — no Spark job)."""
        import json

        raw = self.ops.read_text(
            os.path.join(self._metrics_dir(it), "metrics.json"))
        if raw is None:
            return None
        try:
            return json.loads(raw).get(key)
        except json.JSONDecodeError:
            return None

    def read_metrics(self) -> DataFrame:
        base = os.path.join(self.root, "metrics")
        return self.spark.read.json(
            os.path.join(base, "iter=*", "metrics.json"))

    # -- gc ---------------------------------------------------------------
    def prune_states_before(self, it: int) -> None:
        """Drop state checkpoints older than ``it`` (metrics are kept —
        they are the audit log).  At 1e9-edge scale per-iteration state
        is ~|V| rows; pruning bounds storage to O(1) checkpoints."""
        for k in self.committed_iterations():
            if k < it:
                self.ops.delete(self._state_dir(k))

    def clear(self) -> None:
        self.ops.delete(self.root)
        self.ops.mkdirs(self.root)


class TableCheckpointManager:
    """Checkpointing on CATALOG TABLES through the IO layer — the
    production shape the mandate names (per-iteration rank/label state
    "checkpointed to Iceberg with per-partition lineage and metrics").

    Same surface as :class:`CheckpointManager`, different storage:

    - ``<prefix>_state``:  state rows + ``iteration`` + ``part_id``
      lineage, PARTITIONED BY ``iteration`` — resume and per-iteration
      re-reads prune to one partition; the Iceberg spec is declared
      once at table creation (``partitionedBy(col("iteration"))``) and
      appends inherit it from table metadata.
    - ``<prefix>_metrics``: one row per checkpointed iteration
      (iteration, l1, dangling_mass, ...).  Unlike the path-based
      manager's driver-side JSON files, metrics rows here are table
      appends — a Spark job per cadence hit, the price of a
      transactional audit log readable by any engine on the catalog.

    Works unchanged on either ``TableIO`` backend: with ``iceberg`` it
    emits the writeTo/partitionedBy/append DDL sequence (pinned by
    recorder-fake tests — the sandbox has no Iceberg jar); with
    ``parquet`` the identical call sequence runs end-to-end for real,
    which is how the resume loop is integration-tested here.
    """

    def __init__(self, spark: SparkSession, io, prefix: str = "pagerank",
                 interval: int = 1):
        self.spark = spark
        self.io = io
        self.prefix = prefix
        self.interval = max(int(interval), 1)

    @property
    def _state(self) -> str:
        return f"{self.prefix}_state"

    @property
    def _metrics(self) -> str:
        return f"{self.prefix}_metrics"

    def should_checkpoint(self, it: int) -> bool:
        return it % self.interval == 0

    def write_state(self, df: DataFrame, it: int,
                    target_partitions: int | None = None) -> DataFrame:
        out = df.withColumn("part_id", F.spark_partition_id()) \
                .withColumn("iteration", F.lit(it))
        if target_partitions is not None:
            out = out.coalesce(max(int(target_partitions), 1))
        if self.io.exists(self.spark, self._state):
            self.io.append(out, self._state, partition_by=["iteration"])
        else:
            self.io.write(out, self._state, mode="overwrite",
                          partition_by=["iteration"])
        return self.read_state(it)

    def read_state(self, it: int) -> DataFrame:
        return (
            self.io.read(self.spark, self._state)
            .where(F.col("iteration") == it)
            .drop("iteration", "part_id")
        )

    def committed_iterations(self) -> list[int]:
        if not self.io.exists(self.spark, self._state):
            return []
        rows = (self.io.read(self.spark, self._state)
                .select("iteration").distinct().collect())
        return sorted(int(r["iteration"]) for r in rows)

    def latest_iteration(self) -> int | None:
        its = self.committed_iterations()
        return its[-1] if its else None

    def write_metrics(self, it: int, metrics: dict) -> None:
        # Every key becomes a column, so the table's columns do not depend
        # on which values a run knew: a string is a STRING column, any
        # other value (None included, as NULL) a DOUBLE one.
        row = {"iteration": float(it),
               **{k: v if isinstance(v, str) or v is None else float(v)
                  for k, v in metrics.items()}}
        cols = sorted(row)
        df = self.spark.createDataFrame(
            [tuple(row[c] for c in cols)],
            ", ".join(f"`{c}` {'STRING' if isinstance(row[c], str) else 'DOUBLE'}"
                      for c in cols))
        self.io.append(df, self._metrics, partition_by=None)

    def read_metric(self, it: int, key: str):
        if not self.io.exists(self.spark, self._metrics):
            return None
        df = self.io.read(self.spark, self._metrics)
        if key not in df.columns:
            return None
        row = df.where(F.col("iteration") == float(it)).select(key).first()
        return None if row is None else row[key]
