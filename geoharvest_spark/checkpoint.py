"""Checkpoint / lineage: per-partition metrics + idempotent resume.

North rule: "checkpoint per-Iceberg-snapshot with per-partition lineage and
row-count/byte metrics so any partition can resume idempotently."

Engine model (no Iceberg jars in this container — the table layout is the
parquet analog; the API would bind to Iceberg snapshot ids unchanged):

- work is partitioned by a deterministic ``partition_id`` (e.g. ghcell
  parent, date bucket, or input split);
- a lineage table rows: (job_id, snapshot_id, partition_id, rows, bytes,
  status, updated_ts);
- resume = anti-join completed partitions (K4 ack analog: marking a
  partition done ≈ deleting the SQS message, mit.py:251-263);
- writes are idempotent per partition: overwrite-by-partition with
  deterministic file naming, so a retried partition replaces itself
  (reference re-harvest overwrites by deterministic filename,
  record.py:172-197).
"""

from __future__ import annotations

import datetime as dt
import os
import urllib.parse

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from .functions import latest_per_key
from .schema import CHECKPOINT_SCHEMA


class CheckpointStore:
    """Parquet-backed lineage table (append-only log, latest-status-wins)."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path

    def _exists(self) -> bool:
        return os.path.exists(self.path) and any(
            f.endswith(".parquet") for f in os.listdir(self.path)
        )

    def _lineage_frame(self, rows: list[tuple]) -> DataFrame:
        """Driver-built lineage rows as a DataFrame via an Arrow table.

        ``createDataFrame(list)`` pickles the rows into a parallelized RDD
        that Python workers re-serialize: a Python-worker job for a
        handful of rows. A pandas frame takes the Arrow path only when it
        is non-empty, so the rows go in as a pyarrow Table (a local
        relation, no job)."""
        names = CHECKPOINT_SCHEMA.fieldNames()
        table = pa.Table.from_pylist(
            [dict(zip(names, r)) for r in rows],
            schema=to_arrow_schema(CHECKPOINT_SCHEMA),
        )
        return self.spark.createDataFrame(table, CHECKPOINT_SCHEMA)

    def log(self) -> DataFrame:
        if not self._exists():
            return self._lineage_frame([])
        return self.spark.read.schema(CHECKPOINT_SCHEMA).parquet(self.path)

    def current(self) -> DataFrame:
        """Latest status per (job_id, snapshot_id, partition_id) —
        last-event-wins (A4 semantics, mit.py:186-197)."""
        return latest_per_key(
            self.log(), ["job_id", "snapshot_id", "partition_id"],
            [F.col("updated_ts").desc()],
        )

    def completed_partitions(self, job_id: str, snapshot_id: str) -> DataFrame:
        return (
            self.current()
            .where(
                (F.col("job_id") == job_id)
                & (F.col("snapshot_id") == snapshot_id)
                & (F.col("status") == "done")
            )
            .select("partition_id")
        )

    def mark(
        self,
        job_id: str,
        snapshot_id: str,
        metrics: list[tuple[int, int, int]],
        status: str = "done",
        ts: dt.datetime | None = None,
    ) -> None:
        """Append (partition_id, rows, bytes) metric rows stamped ``ts``
        (default: now). A naive ``ts`` is a UTC wall clock. No metrics
        write nothing: an empty part file would make ``_exists()`` true
        and ``pending`` anti-join against a log with no rows."""
        if not metrics:
            return
        now = ts or dt.datetime.now(dt.timezone.utc)
        if now.tzinfo is None:
            now = now.replace(tzinfo=dt.timezone.utc)
        rows = [
            (job_id, snapshot_id, pid, nrows, nbytes, status, now)
            for pid, nrows, nbytes in metrics
        ]
        df = self._lineage_frame(rows)
        df.coalesce(1).write.mode("append").parquet(self.path)

    def pending(
        self, work: DataFrame, job_id: str, snapshot_id: str,
        partition_col: str = "partition_id",
    ) -> DataFrame:
        """Resume filter: drop rows whose partition is already done
        (anti-join — never a broadcast collect to the driver). With no
        lineage yet nothing is done, so ``work`` comes back unchanged."""
        if not self._exists():
            return work
        done = self.completed_partitions(job_id, snapshot_id)
        return work.join(
            done.withColumnRenamed("partition_id", partition_col),
            partition_col,
            "left_anti",
        )


def partition_metrics(df: DataFrame, partition_col: str = "partition_id") -> list[tuple[int, int, int]]:
    """Compute (partition_id, rows, approx_bytes) per logical partition.

    Byte size approximated from row count * avg serialized width of the
    sampled plan — cheap and deterministic; Iceberg would supply exact file
    bytes per snapshot."""
    agg = (
        df.groupBy(partition_col)
        .agg(F.count(F.lit(1)).alias("rows"))
        .collect()
    )
    width = max(1, len(df.columns)) * 24
    return [(int(r[partition_col]), int(r["rows"]), int(r["rows"]) * width) for r in agg]


def run_with_checkpoint(
    spark: SparkSession,
    work: DataFrame,
    process,  # Callable[[DataFrame], DataFrame]
    store: CheckpointStore,
    job_id: str,
    snapshot_id: str,
    out_dir: str,
    partition_col: str = "partition_id",
) -> DataFrame:
    """Idempotent partitioned run: process only pending partitions, write
    each as its own parquet subdir (overwrite = replace-by-partition), then
    mark done. Re-running after a crash re-does only unfinished partitions.
    """
    todo = store.pending(work, job_id, snapshot_id, partition_col)
    attempted = {
        int(r[partition_col])
        for r in todo.select(partition_col).distinct().collect()
    }
    if not attempted:
        return spark.read.parquet(f"{out_dir}/data")
    # Dynamic overwrite only replaces partitions PRESENT in the new result:
    # if a crashed prior attempt wrote rows for a pending partition and this
    # run legitimately emits zero rows for it, the stale rows would survive,
    # get counted from the read-back, and be marked done as this run's
    # output. Drop the pending partitions' data dirs first (Iceberg's
    # overwritePartitions does this transactionally). shutil can only
    # address the LOCAL filesystem — on any other scheme a silent no-op
    # here would revive the stale-row bug, so refuse loudly; an Iceberg
    # deployment replaces this block with overwritePartitions.
    import shutil

    # Spark/Hadoop accept BOTH 'file:///path' and the single-slash
    # 'file:/path' form, but shutil only takes plain paths — rmtree on
    # either URI form raises FileNotFoundError, which the purge loop would
    # swallow, silently reviving the stale-row bug. urlparse normalizes
    # both forms; any OTHER scheme (s3a, hdfs, ...) is refused loudly — a
    # silent local no-op could not purge object-store partitions.
    parsed = urllib.parse.urlparse(out_dir)
    if parsed.scheme and parsed.scheme != "file":
        raise ValueError(
            f"run_with_checkpoint requires a local-filesystem out_dir for "
            f"the stale-partition purge; got {out_dir!r} (use Iceberg "
            "overwritePartitions for object-store/HDFS outputs)"
        )
    local_out = parsed.path if parsed.scheme == "file" else out_dir
    for pid in attempted:
        try:
            shutil.rmtree(f"{local_out}/data/{partition_col}={pid}")
        except FileNotFoundError:
            pass  # partition never written — nothing stale to purge
    result = process(todo)
    (
        result.repartition(F.col(partition_col))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(f"{out_dir}/data")
    )
    # Mark EVERY attempted partition done — derived from `todo`, not from
    # the result: a pending partition whose process() output is zero rows
    # would otherwise never be marked and be reprocessed on every resume.
    # Metrics come from the WRITTEN parquet (left join, zero-filled), never
    # by re-executing the process() lineage (which could diverge if
    # nondeterministic and costs a second full pass).
    written = dict(
        (int(r[partition_col]), int(r["rows"]))
        for r in spark.read.parquet(f"{out_dir}/data")
        .where(F.col(partition_col).isin(list(attempted)))
        .groupBy(partition_col)
        .agg(F.count(F.lit(1)).alias("rows"))
        .collect()
    )
    width = max(1, len(result.columns)) * 24
    metrics = [
        (pid, written.get(pid, 0), written.get(pid, 0) * width)
        for pid in sorted(attempted)
    ]
    store.mark(job_id, snapshot_id, metrics)
    return spark.read.parquet(f"{out_dir}/data")
