"""spark-submit entrypoint: incremental/streaming harvest of an event feed.

Usage:
  spark-submit --py-files ghs.zip jobs/stream.py \
      --input <dir of event parquet files> --output <dir> \
      [--once] [--trigger-seconds 10]

Dataflow (reference incremental mode, SURVEY.md §2.9): event files arrive ->
dedupe message ids within the watermark -> invalid events to a side sink ->
windowed counts + last-event-wins state table. --once processes everything
available and exits (the batch-equivalent incremental run).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geoharvest_spark.session import get_spark  # noqa: E402
from geoharvest_spark.streaming import (  # noqa: E402
    dedupe_messages,
    last_event_per_url_batch,
    last_event_stateful,
    read_event_stream,
    split_invalid,
    windowed_event_counts,
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--once", action="store_true")
    ap.add_argument("--trigger-seconds", type=int, default=10)
    args = ap.parse_args()

    spark = get_spark("stream-harvest")
    stream = read_event_stream(spark, args.input)
    valid, invalid = split_invalid(stream)
    deduped = dedupe_messages(valid)

    trigger = (
        {"availableNow": True}
        if args.once
        else {"processingTime": f"{args.trigger_seconds} seconds"}
    )

    q_invalid = (
        invalid.writeStream.format("parquet")
        .option("path", f"{args.output}/invalid")
        .option("checkpointLocation", f"{args.output}/_ckpt_invalid")
        .outputMode("append")
        .trigger(**trigger)
        .start()
    )
    # NOTE: window counts run on `valid`, not `deduped` — dropDuplicates
    # already set a watermark and Spark disallows redefining it downstream
    q_windows = (
        windowed_event_counts(valid)
        .writeStream.format("parquet")
        .option("path", f"{args.output}/window_counts")
        .option("checkpointLocation", f"{args.output}/_ckpt_windows")
        .outputMode("append")
        .trigger(**trigger)
        .start()
    )
    # production state path: incremental state store (applyInPandasWithState)
    # emitting a per-trigger update CHANGELOG (file sinks reject update mode,
    # so foreachBatch appends each epoch's updates — standard CDC shape);
    # the queryable latest_state is a compaction of the changelog.
    changelog_dir = f"{args.output}/latest_changelog"

    def _append_changelog(batch_df, epoch_id: int) -> None:
        batch_df.write.mode("append").parquet(changelog_dir)

    q_state = (
        last_event_stateful(deduped)
        .writeStream.foreachBatch(_append_changelog)
        .option("checkpointLocation", f"{args.output}/_ckpt_state")
        .outputMode("update")
        .trigger(**trigger)
        .start()
    )

    for q in (q_invalid, q_windows, q_state):
        if args.once:
            q.processAllAvailable()
            q.stop()
    if args.once:
        import os

        if os.path.isdir(changelog_dir):
            last_event_per_url_batch(
                spark.read.parquet(changelog_dir)
            ).write.mode("overwrite").parquet(f"{args.output}/latest_state")
        print("DONE once")
        spark.stop()
    else:  # pragma: no cover - long-running service mode
        spark.streams.awaitAnyTermination()


if __name__ == "__main__":
    main()
