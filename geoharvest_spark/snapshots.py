"""Snapshot-versioned record store: S7 time travel (deleted-row recovery).

Reference semantics (ogm.py:434-449): an incremental harvest sees a DELETED
file; its payload no longer exists on disk, so the reference reads the
file's prior content out of the parent git commit's tree. The Spark-first
analog is a snapshot-partitioned table:

    <root>/snap=<n>/part-*.parquet      rows: (identifier, event, payload)

- every harvest appends ONE snapshot partition holding only that run's
  changes (created/updated rows carry payloads; deleted rows carry NULL);
- time travel = partition-pruned scan of snap <= N;
- deleted-row recovery = for ids deleted in snap N, the payload from the
  LATEST snap < N that carried one (window, or broadcast join when the
  deleted set is small — it always is, relative to the corpus).

At 100 TB: snapshot partitions prune at the scan (PartitionFilters), the
deleted set per increment is tiny so the recovery join broadcasts, and the
window never runs over the full corpus — only over the semi-joined history
of deleted ids.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import latest_per_key

SNAPSHOT_COLS = "snap int, identifier string, event string, payload string"


class SnapshotStore:
    """Parquet snapshot store partitioned by `snap` (monotonic int id)."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root

    def write_snapshot(self, df: DataFrame, snapshot_id: int) -> None:
        """Append one snapshot partition (idempotent: replace-by-partition)."""
        (
            df.withColumn("snap", F.lit(snapshot_id))
            .repartition(1)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("snap")
            .parquet(self.root)
        )

    def table(self) -> DataFrame:
        return self.spark.read.option("basePath", self.root).parquet(self.root)

    def read_snapshot(self, snapshot_id: int) -> DataFrame:
        """Time travel: the table AS OF snapshot_id — latest event per id
        across snaps <= N, deleted rows dropped. Partition-pruned scan."""
        t = self.table().where(F.col("snap") <= F.lit(snapshot_id))
        return latest_per_key(t, ["identifier"], [F.col("snap").desc()]).where(
            F.col("event") != "deleted"
        )


def deleted_payloads(
    snapshot_table: DataFrame, snapshot_id: int
) -> DataFrame:
    """S7: for every id DELETED in `snapshot_id`, recover its payload from
    the latest earlier snapshot (ogm.py:434-449 `_read_deleted_file_from_
    commit`). Returns (identifier, from_snap, payload).

    The deleted set is semi-join-reduced before the window, so the ranking
    runs only over the deleted ids' history — never the whole table."""
    deleted = (
        snapshot_table.where(
            (F.col("snap") == F.lit(snapshot_id))
            & (F.col("event") == "deleted")
        )
        .select("identifier")
    )
    prior = (
        snapshot_table.where(
            (F.col("snap") < F.lit(snapshot_id))
            & (F.col("event") != "deleted")
            & F.col("payload").isNotNull()
        )
        .join(F.broadcast(deleted), "identifier", "left_semi")
    )
    return latest_per_key(prior, ["identifier"], [F.col("snap").desc()]).select(
        "identifier", F.col("snap").alias("from_snap"), "payload"
    )


# ---------------------------------------------------------------------------
# Deterministic multi-snapshot scenario shared by the driver query and the
# DuckDB oracle staging (both build the SAME rows, then implement the
# time-travel logic independently).
# ---------------------------------------------------------------------------
def synth_snapshot_rows(n: int = 60) -> pd.DataFrame:
    """3 snapshots over n records:
    snap 1: all created with payload v1;
    snap 2: ids %3==0 updated to payload v2 (incremental — only changes);
    snap 3: ids %5==0 deleted (payload NULL)."""
    import hashlib

    def pay(i: int, v: int) -> str:
        return hashlib.md5(f"rec{i}-v{v}".encode()).hexdigest()

    rows = []
    for i in range(n):
        rows.append((1, f"rec{i:04d}", "created", pay(i, 1)))
    for i in range(n):
        if i % 3 == 0:
            rows.append((2, f"rec{i:04d}", "updated", pay(i, 2)))
    for i in range(n):
        if i % 5 == 0:
            rows.append((3, f"rec{i:04d}", "deleted", None))
    return pd.DataFrame(
        rows, columns=["snap", "identifier", "event", "payload"]
    )


def synth_snapshot_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(synth_snapshot_rows(), SNAPSHOT_COLS)


def apply_changes(
    snapshot: DataFrame,
    changes: DataFrame,
    key_col: str,
    op_col: str = "op",
    seq_col: str = "seq",
) -> DataFrame:
    """MERGE-INTO / CDC-apply semantics: fold a changeset of
    (key, op in {I, U, D}, seq, payload...) rows into a snapshot —
    the maintenance primitive every warehouse table with upstream CDC
    needs (Debezium/DMS streams, Iceberg/Delta MERGE).

    Semantics: per key, only the LATEST change (max ``seq``, ties
    resolved by preferring the greatest (seq, op) pair so replays are
    deterministic) applies. D drops the key; I/U upserts the change's
    payload columns; keys untouched by the changeset pass through.

    Plan: one per-key max-struct aggregate over the changeset (hash
    agg — no window, the max_by idiom), then ONE full-outer equi-join
    against the snapshot with codegen CASE resolution. The changeset is
    typically increments-sized, so AQE broadcasts it; the snapshot is
    never shuffled in that regime. At 100 TB both inputs bucket on the
    key and the join is exchange-free.

    Payload columns are every non-(key, op, seq) column of ``changes``;
    they must exist in ``snapshot`` with the same types.
    """
    clash = {op_col, seq_col} & set(snapshot.columns)
    if clash:
        raise ValueError(
            f"snapshot columns {sorted(clash)} collide with the op/seq "
            "columns — rename them before apply_changes"
        )
    payload = [
        c for c in changes.columns if c not in (key_col, op_col, seq_col)
    ]
    latest = (
        changes.groupBy(key_col)
        .agg(
            F.max(
                F.struct(
                    F.col(seq_col).alias("seq"),
                    F.col(op_col).alias("op"),
                    *[F.col(c).alias(c) for c in payload],
                )
            ).alias("_ch")
        )
        .select(key_col, "_ch.*")
    )
    joined = snapshot.alias("s").join(
        latest.alias("c"), on=key_col, how="full_outer"
    )
    keep = F.col("op").isNull() | (F.col("op") != "D")
    take_change = F.col("op").isin("I", "U")
    return joined.where(keep).select(
        F.col(key_col),
        *[
            F.when(take_change, F.col(f"c.{c}"))
            .otherwise(F.col(f"s.{c}"))
            .alias(c)
            for c in payload
        ],
    )


def compaction_plan(
    manifest: DataFrame,
    target_bytes: int,
    partition_col: str = "part",
    file_col: str = "file_id",
    bytes_col: str = "n_bytes",
    key_col: str = "sort_key",
) -> DataFrame:
    """Small-file compaction planner over a table manifest (Iceberg-style
    maintenance): within each table partition, files ordered by their
    sort key are packed into rewrite bins of ~``target_bytes`` via
    exclusive-prefix-sum binning — bin = floor(cumsum_before / target).
    Key-ordered packing keeps each output file's key range tight, so
    min/max pruning stays sharp after the rewrite.

    Metadata-scale plan: ONE window per partition key (a manifest is
    file-counts, not row-counts — millions of rows at 100 TB, and the
    cumsum partitions by table partition so no global sort), then a
    hash rollup per bin. Deterministic (ties on key break by file id)
    and trivially SQL-replayable. Returns per-bin
    (part, bin_id, n_files, total_bytes, min_key, max_key).
    """
    if target_bytes < 1:
        raise ValueError(f"target_bytes must be >= 1: {target_bytes}")
    w = (
        Window.partitionBy(partition_col)
        .orderBy(key_col, file_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum(bytes_col).over(w), F.lit(0))
    binned = manifest.select(
        F.col(partition_col),
        F.col(file_col),
        F.col(bytes_col),
        F.col(key_col),
        F.floor(before / F.lit(target_bytes)).cast("long").alias("bin_id"),
    )
    return (
        binned.groupBy(partition_col, "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum(bytes_col).alias("total_bytes"),
            F.min(key_col).alias("min_key"),
            F.max(key_col).alias("max_key"),
        )
        .orderBy(partition_col, "bin_id")
    )


def maintain_agg_from_changelog(
    base_agg: DataFrame,
    changes: DataFrame,
    key_col: str = "key",
    val_col: str = "val",
    op_col: str = "op",
    old_col: str = "old_val",
) -> DataFrame:
    """Incremental aggregate-view maintenance (SUM/COUNT per key) from a
    CDC changelog — the warehouse pattern that keeps a rollup current
    WITHOUT rescanning the base table: I contributes (+1, +val), D
    (-1, -val) with ``val`` the deleted row's value, U (0, val -
    old_val) with the pre-image in ``old_col``. Deltas are one hash
    aggregate over the (small) changelog, merged into the base rollup
    with a single full-outer join; everything commutes, so applying
    batches one at a time equals applying them all at once (the
    stream_cdc_apply argument, lifted from rows to aggregates).

    ``base_agg`` carries (key, n_rows, val_sum). Keys whose maintained
    count reaches zero drop out (the view stays minimal). Returns the
    maintained (key, n_rows, val_sum).
    """
    op = F.col(op_col)
    dn = (
        F.when(op == "I", F.lit(1))
        .when(op == "D", F.lit(-1))
        .otherwise(F.lit(0))
        .cast("long")
    )
    ds = (
        F.when(op == "I", F.col(val_col))
        .when(op == "D", -F.col(val_col))
        .otherwise(F.col(val_col) - F.col(old_col))
        .cast("long")
    )
    delta = changes.groupBy(F.col(key_col).alias("_k")).agg(
        F.sum(dn).alias("_dn"), F.sum(ds).alias("_ds")
    )
    merged = base_agg.join(
        delta, base_agg[key_col] == delta["_k"], "full_outer"
    ).select(
        F.coalesce(base_agg[key_col], F.col("_k")).alias(key_col),
        (
            F.coalesce(F.col("n_rows"), F.lit(0))
            + F.coalesce(F.col("_dn"), F.lit(0))
        ).alias("n_rows"),
        (
            F.coalesce(F.col("val_sum"), F.lit(0))
            + F.coalesce(F.col("_ds"), F.lit(0))
        ).alias("val_sum"),
    )
    return merged.where(F.col("n_rows") > 0)
