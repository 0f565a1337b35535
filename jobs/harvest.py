"""spark-submit entrypoint: harvest a pages table -> normalized Aardvark.

Usage:
  spark-submit --py-files ghs.zip jobs/harvest.py \
      --input <pages parquet/dir> --output <dir> \
      [--from-ts 2024-01-01] [--until-ts 2024-06-01] \
      [--md-modified 2024-06-01T00:00:00+00:00] [--snapshot-id s1] [--resume]

Mirrors `harvester harvest ...` (cli.py:108-271): date-range pruning,
normalize with error side-channel, combined JSONL + normalized table +
pooled events + run stats, per-partition lineage checkpoint for resume.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from geoharvest_spark import sinks, sources  # noqa: E402
from geoharvest_spark.checkpoint import CheckpointStore  # noqa: E402
from geoharvest_spark.normalize import split_failed  # noqa: E402
from geoharvest_spark.pipeline import harvest_pages_fused  # noqa: E402
from geoharvest_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--from-ts", default=None)
    ap.add_argument("--until-ts", default=None)
    ap.add_argument(
        "--origin", default=None, choices=["mit", "ogm", "alma"],
        help="harvest one origin only (the reference's "
        "`harvester harvest mit|ogm|alma` subcommands)",
    )
    ap.add_argument(
        "--skip-events", action="store_true",
        help="skip the pooled-events sink (reference --skip-eventbridge-events)",
    )
    ap.add_argument("--md-modified", default=None)
    ap.add_argument("--snapshot-id", default="snap0")
    ap.add_argument("--job-id", default="harvest")
    ap.add_argument("--partitions", type=int, default=64)
    args = ap.parse_args()

    spark = get_spark("harvest")
    pages = spark.read.parquet(args.input)
    pages = sources.modified_date_filter(pages, args.from_ts, args.until_ts)
    if args.origin:
        from geoharvest_spark.extract import origin_from_url

        pages = pages.where(origin_from_url(F.col("url")) == args.origin)

    # F10 empty-input early exit
    if sources.is_empty(pages):
        print(json.dumps({"processed": 0, "successful": 0, "failed": 0}))
        return

    # checkpointed, partition-idempotent run: partition by a deterministic
    # url-hash bucket; resume skips completed buckets. The bucket is a
    # function of url alone, so the harvest output recomputes it rather
    # than joining it back from the input.
    store = CheckpointStore(spark, f"{args.output}/lineage")
    bucket = F.pmod(F.xxhash64("url"), F.lit(args.partitions)).cast("int")
    work = pages.withColumn("partition_id", bucket)
    todo = store.pending(work, args.job_id, args.snapshot_id)

    normalized = harvest_pages_fused(todo, args.md_modified).withColumn(
        "partition_id", bucket
    )
    normalized.cache()
    ok, failed = split_failed(normalized)

    ok.drop("partition_id").write.mode("append").parquet(f"{args.output}/normalized")
    failed.select("url", "identifier", "error").write.mode("append").parquet(
        f"{args.output}/errors"
    )
    sinks.write_combined_jsonl(ok, f"{args.output}/combined_jsonl")
    if not args.skip_events:
        sinks.pooled_events(ok).write.mode("append").parquet(
            f"{args.output}/events_out"
        )

    from geoharvest_spark.checkpoint import partition_metrics

    store.mark(args.job_id, args.snapshot_id, partition_metrics(normalized))
    stats = sinks.run_stats(normalized)
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
