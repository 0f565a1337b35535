"""Structured Streaming: the reference's incremental mode as real streams.

The reference's "streams" (SURVEY.md §2.9) are SQS messages
(mit.py:58-87), git-diff deltas (ogm.py:248-292) and daily Alma files
(alma.py:61-73): at-least-once delivery, in-run dedupe by message id,
invalid messages diverted not dropped, last-event-wins ordering per id.

Spark mapping implemented here:
- file-source stream over a pages/events directory (micro-batch =
  snapshot delta; at a real deployment this is Kafka or an Iceberg CDC
  stream — same dataflow);
- dropDuplicates within watermark = the processed_message_ids guard
  (sqs.py:161-185);
- last-event-wins per key via stateful dedup or foreachBatch MERGE
  emulation (A4, mit.py:186-197);
- invalid events -> error side-output, never dropped (sqs.py:95-108);
- tumbling-window counts with late-data watermark (event-time filtering,
  F1 analog).

All helpers return streaming DataFrames; tests drive them with the memory
sink + processAllAvailable() so a batch of parquet rows executes the whole
streaming query synchronously.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions import latest_per_key

EVENT_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("message_id", T.StringType(), False),
        T.StructField("event_ts", T.TimestampType(), True),
        T.StructField("event", T.StringType(), True),  # created|deleted|...
        T.StructField("url", T.StringType(), True),
        T.StructField("seq", T.LongType(), True),
    ]
)

VALID_EVENTS = ("created", "deleted")


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 10
) -> DataFrame:
    """File-source event stream (micro-batch = arrival of new files)."""
    return (
        spark.readStream.schema(EVENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def split_invalid(stream: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Invalid events (unknown type / missing url) divert to a side output —
    the reference logs + leaves them in the queue (sqs.py:95-108,139-159);
    here they land in an errors sink for replay."""
    is_valid = F.col("event").isin(*VALID_EVENTS) & F.col("url").isNotNull()
    return stream.where(is_valid), stream.where(~is_valid)


def dedupe_messages(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """At-least-once -> effectively-once: drop duplicate message ids within
    the watermark horizon (processed_message_ids guard, sqs.py:161-185)."""
    return stream.withWatermark("event_ts", watermark).dropDuplicates(
        ["message_id"]
    )


def windowed_event_counts(
    stream: DataFrame, window: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Tumbling-window event counts with late-data watermark."""
    return (
        stream.withWatermark("event_ts", watermark)
        .groupBy(F.window("event_ts", window), F.col("event"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "event",
            "n",
        )
    )


def last_event_per_url_batch(df: DataFrame) -> DataFrame:
    """Batch kernel for last-event-wins (A4): max-(seq, event_ts,
    message_id) row per url. message_id is the final tie-breaker so rows
    with fully equal (seq, event_ts) pick a deterministic winner across
    retriggers/retries (matches last_event_stateful's fold)."""
    return latest_per_key(
        df, ["url"],
        [F.col("seq").desc(), F.col("event_ts").desc(), F.col("message_id").desc()],
    )


def run_last_event_stream(
    stream: DataFrame,
    out_table: str,
    checkpoint_dir: str,
    max_state_rows: int = 100_000,
):
    """TEST-HARNESS-ONLY streaming last-event-wins via foreachBatch MERGE
    emulation (the ``cosine_topk_bruteforce`` treatment): each micro-batch
    re-unions and re-windows the FULL url key set, so per-epoch work grows
    O(total distinct keys ever seen) — a scale-killer as a production path.
    Use :func:`last_event_stateful` (incremental state store) in jobs; this
    exists as an independently-implemented truth twin for tests. Guarded by
    ``max_state_rows``: the fold raises past it rather than degrading.

    State lives in a GLOBAL temp view: foreachBatch executes in a cloned
    SparkSession, so a session-local temp view would be invisible to the
    caller (and to the next epoch's clone)."""
    state_view = f"{out_table}_state"

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        sess = batch_df.sparkSession
        batch_last = last_event_per_url_batch(batch_df)
        try:
            prev = sess.table(f"global_temp.{state_view}")
            merged = last_event_per_url_batch(prev.unionByName(batch_last))
        except Exception:  # first epoch: no state yet
            merged = batch_last
        n_state = merged.cache().count()
        if n_state > max_state_rows:
            raise RuntimeError(
                f"run_last_event_stream state ({n_state} keys) exceeds "
                f"max_state_rows={max_state_rows} — this foreachBatch "
                "emulation is test-harness-only; use last_event_stateful"
            )
        merged.createOrReplaceGlobalTempView(state_view)

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def last_event_stateful(stream: DataFrame) -> DataFrame:
    """Streaming last-event-wins as a CUSTOM STATEFUL operator
    (applyInPandasWithState): per-url state holds the winning
    (seq, event, event_ts); each micro-batch folds its rows into the state
    and emits the current winner. The production-grade version of
    run_last_event_stream's foreachBatch emulation — state lives in the
    state store (RocksDB/HDFS-backed on a cluster), scales with keys, and
    survives restarts via the checkpoint.

    Ordering matches last_event_per_url_batch: greatest
    (seq, event_ts, message_id) — message_id is the deterministic final
    tie-breaker so fully-equal (seq, event_ts) rows pick the same winner
    on every retrigger (and the strict > below can never flip between
    equal-key rows across batches).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "url string, seq long, event string, event_ts timestamp, "
        "message_id string"
    )
    state_schema = "seq long, event string, event_ts timestamp, message_id string"

    def _fold(key, pdfs, state: GroupState):
        best = tuple(state.get) if state.exists else None
        for pdf in pdfs:
            if pdf.empty:
                continue
            pdf = pdf.sort_values(["seq", "event_ts", "message_id"]).iloc[-1]
            cand = (
                int(pdf["seq"]),
                pdf["event"],
                pdf["event_ts"],
                str(pdf["message_id"]),
            )
            if best is None or (cand[0], cand[2], cand[3]) > (
                best[0],
                best[2],
                best[3],
            ):
                best = cand
        if best is not None:
            state.update(best)
            yield pd.DataFrame(
                {
                    "url": [key[0]],
                    "seq": [best[0]],
                    "event": [best[1]],
                    "event_ts": [best[2]],
                    "message_id": [best[3]],
                }
            )

    return stream.groupBy("url").applyInPandasWithState(
        _fold,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def sessionize_stateful(stream: DataFrame, gap_seconds: int = 60) -> DataFrame:
    """Streaming event-time sessionization as a custom stateful operator
    (applyInPandasWithState + EventTimeTimeout): per-url state holds the
    open session (start, last, n); arriving rows either extend it or
    close it (gap exceeded) and open the next one; the EVENT-TIME TIMEOUT
    closes idle sessions once the watermark passes last + gap — so state
    size is bounded by ACTIVE keys, not all keys ever seen. Emits CLOSED
    sessions (url, sess_start, sess_end, n_events) in append mode.

    The input stream must already carry a watermark on event_ts. Batch
    twin for tests: w_sessionization's gap-cumsum (same >gap convention:
    a row exactly gap seconds after the last one EXTENDS the session,
    matching the manual kernel, not session_window's half-open rule).

    Out-of-order rows above the watermark but earlier than the open
    session's start are attributed to the CURRENT session (start moves
    back to min(start, t)): sessions already emitted closed are immutable
    in append mode, so the open session is the only consistent home. Rows
    below the watermark never reach the fold (Spark drops them).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "url string, sess_start timestamp, sess_end timestamp, n_events long"
    )
    state_schema = "start timestamp, last timestamp, n long"
    gap = pd.Timedelta(seconds=gap_seconds)

    def _fold(key, pdfs, state: GroupState):
        closed = []
        if state.hasTimedOut:
            start, last, n = state.get
            closed.append((key[0], start, last, int(n)))
            state.remove()
        else:
            rows = [pdf for pdf in pdfs if not pdf.empty]
            if rows:
                ts = (
                    pd.concat(rows)["event_ts"]
                    .sort_values()
                    .reset_index(drop=True)
                )
                if state.exists:
                    start, last, n = state.get
                    start, last, n = pd.Timestamp(start), pd.Timestamp(last), int(n)
                else:
                    start, last, n = ts[0], ts[0], 0
                    ts = ts[0:]  # first row still counts below
                for t in ts:
                    if t - last > gap:
                        closed.append((key[0], start, last, n))
                        start, last, n = t, t, 1
                    else:
                        # out-of-order row above the watermark but earlier
                        # than the open session's start: attribute it to the
                        # CURRENT session and extend the session backwards
                        # (already-emitted closed sessions are immutable in
                        # append mode, so this is the only consistent home)
                        start = min(start, t)
                        last = max(last, t)
                        n += 1
                state.update((start, last, n))
                # close the open session once the watermark passes last+gap
                timeout_ms = int(last.value // 10**6) + gap_seconds * 1000
                state.setTimeoutTimestamp(
                    max(timeout_ms, state.getCurrentWatermarkMs() + 1)
                )
        if closed:
            yield pd.DataFrame(
                closed, columns=["url", "sess_start", "sess_end", "n_events"]
            )

    return stream.groupBy("url").applyInPandasWithState(
        _fold,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def synth_session_rows() -> list[dict]:
    """Deterministic session-shaped rows for the sessionize_stateful
    contract query: urls sess_00..sess_09 with 2-4 sessions each, 1-4
    events per session. Within-session spacing 37s (<= gap 60s, extends);
    between-session spacing 900s (> gap, closes via the gap path when the
    successor arrives). Each url's LAST session has no successor row and
    can only close via EventTimeTimeout — the path the contract query
    exists to exercise. All timestamps are integer seconds so Spark's
    cast-to-long and DuckDB's epoch() agree exactly."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    seq = 0
    for u in range(10):
        url = f"https://cdn.mit.test/gis/sess_{u:02d}.zip"
        for s in range(2 + u % 3):
            t0 = base + dt.timedelta(seconds=u * 97 + s * 900)
            for k in range(1 + (u + s) % 4):
                rows.append(
                    {
                        "message_id": f"sess{seq}",
                        "event_ts": t0 + dt.timedelta(seconds=k * 37),
                        "event": "created",
                        "url": url,
                        "seq": seq,
                    }
                )
                seq += 1
    return rows


def synth_event_batch(i0: int, n: int, dup_every: int = 7) -> list[dict]:
    """Deterministic synthetic event rows incl. duplicates and invalids
    (FIXTURES.md T7)."""
    import datetime as dt

    rows = []
    for i in range(i0, i0 + n):
        mid = f"msg{i - (i % dup_every == 3)}"  # some ids repeat
        rows.append(
            {
                "message_id": mid,
                "event_ts": dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i * 30),
                "event": ["created", "deleted", "created", "bogus"][i % 4]
                if i % 11 == 0 or i % 4 != 3
                else "created",
                "url": None if i % 13 == 5 else f"https://cdn.mit.test/gis/data_{i % 50}.zip",
                "seq": i,
            }
        )
    return rows


def interval_stream_join(
    views: DataFrame,
    clicks: DataFrame,
    max_lag_seconds: int = 300,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream event-time INTERVAL join — the attribution join:
    each click matches the views of the SAME user whose timestamp falls
    within ``max_lag_seconds`` before it. Both sides are streaming, so
    Spark buffers each in the state store; the watermark + the
    range condition bound that state (a view older than watermark +
    max_lag can never match a future click and is evicted) — the reason
    this shape survives an unbounded 100-TB stream where an
    unconstrained stream-stream join could not.

    Expects views(user, v_ts, view_id) and clicks(c_user, c_ts,
    click_id). Returns append-mode matches (user, view_id, click_id,
    v_ts, c_ts) — exactly the batch interval join over the same rows
    once the watermark has passed (kill/restart proof in
    test_contract_streaming_resume)."""
    v = views.withWatermark("v_ts", watermark)
    c = clicks.withWatermark("c_ts", watermark)
    return v.join(
        c,
        F.expr(
            "user = c_user AND c_ts >= v_ts AND "
            f"c_ts <= v_ts + interval {int(max_lag_seconds)} seconds"
        ),
    ).select("user", "view_id", "click_id", "v_ts", "c_ts")
