"""SparkSession factory.

Local-mode defaults chosen for the sandbox (single JVM, 32 threads) but every
knob is the one that matters at cluster scale too:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing);
- shuffle partitions ~= cores locally; at 1000-executor scale the same code
  runs with ``spark.sql.shuffle.partitions`` sized to 2-3x total cores by the
  submitter (jobs/ entrypoints take it as a parameter);
- Arrow enabled everywhere: all Python-side work in this engine is
  Arrow-batched (pandas_udf / mapInPandas) — never per-row Python;
- session timezone pinned UTC so results compare bit-for-bit against the
  DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "geoharvest_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` may be an int (local[N]) or "*" — defaults to
    $SPARK_GRAFT_CPUS or all cores. On a real cluster the master URL comes
    from spark-submit and this builder's master() is ignored.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    n_shuffle = shuffle_partitions or (
        int(cores) if str(cores).isdigit() else (os.cpu_count() or 8)
    )
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local mode: the driver heap IS executor memory; size to the box
        # (128 GiB sandbox) — an undersized heap GC-thrashes at high task
        # concurrency long before OOM
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # scan-parallelism floor (guide §6): without it a 130 MB parquet
        # file scans as 1-2 tasks and every downstream map-side operator
        # (project, partial agg, shuffle write) runs near-single-threaded.
        # Derived from the core count, never a constant: at cluster scale a
        # big table's natural split count exceeds any sane floor, so the
        # setting is inert there; locally it lets multi-row-group files
        # split down to row-group granularity.
        .config("spark.sql.files.minPartitionNum", str(n_shuffle))
        # Python workers import this package by name: put its parent
        # directory on their path so jobs run from any working directory
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
    )
    # shuffle/spill files on tmpfs when available: shuffle-heavy operators
    # (tile rollup, knn candidate join) are otherwise bound by the boot
    # disk, which does not scale with cores. Production equivalent: NVMe
    # local disks / ram-backed or push-based shuffle tiers.
    if os.path.isdir("/dev/shm"):
        builder = builder.config(
            "spark.local.dir",
            os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"),
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def spread_narrow(df, key: str | None = None):
    """Hash-repartition a NARROW frame up to the session's default
    parallelism before expensive per-row work.

    A parquet file with a single row group scans as ONE task no matter how
    the byte-range splits are configured (the vectorized reader assigns
    whole row groups to splits), so a heavy projection / pandas UDF
    downstream of such a scan runs single-threaded (guide §2.1/§6.1 —
    measured 6.2 s single-task minhash signatures over a 1-row-group
    documents file that computes in ~0.3 s at 32-way).

    Partitioning is by hash of ``key`` (or of all columns when None) —
    NOT round-robin: keyless ``repartition(n)`` pays a local sort of the
    input first (sort-before-repartition, needed for deterministic
    retries), which is pure overhead here; a deterministic column hash
    gives the same retry safety for free (guide §2.5). Values/rows are
    unchanged — only their placement moves.

    No-op when the frame already has at least that many partitions — at
    cluster scale inputs arrive thousands-of-partitions wide and the extra
    shuffle would be pure cost, so only genuinely narrow inputs pay it.
    Only worth applying when downstream per-row work clearly dominates the
    shuffle cost (a cheap UDF or plain agg is better left narrow —
    measured on the s2/cell legs).
    """
    from pyspark.sql import functions as F

    if df.isStreaming:  # .rdd is illegal on streaming frames; micro-batch
        return df       # parallelism is the source's concern, not ours
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    part_key = F.col(key) if key else F.xxhash64(*[F.col(c) for c in df.columns])
    return df.repartition(target, part_key)
