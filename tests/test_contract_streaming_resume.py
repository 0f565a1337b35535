"""Driver-contract tests for the round-3 queries: the REAL stateful
streaming operator (stream_last_event) and crash-resume idempotency
(checkpoint_resume) — VERDICT r2 "Next round" items 2 and 3."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tests.conftest import SF001


@pytest.fixture(scope="module")
def entrymod():
    import __spark_entry__ as E

    return E


def test_stream_last_event_matches_batch_window(spark, entrymod):
    """The stateful operator's final state equals one batch window over
    the same staged rows (the oracle's computation, here in pandas)."""
    import pandas as pd

    from geoharvest_spark.streaming import synth_event_batch

    out = entrymod.queries()["stream_last_event"](spark, SF001).toPandas()
    rows = []
    for i0 in (0, 120, 240):
        rows.extend(synth_event_batch(i0, 120))
    pdf = pd.DataFrame(rows)
    valid = pdf[pdf.event.isin(["created", "deleted"]) & pdf.url.notna()]
    truth = (
        valid.sort_values(["seq", "event_ts", "message_id"])
        .groupby("url")
        .last()
        .reset_index()
    )
    assert len(out) == len(truth)
    m = out.merge(truth, on="url", suffixes=("_got", "_want"))
    assert (m.seq_got == m.seq_want).all()
    assert (m.event_got == m.event_want).all()
    assert (m.message_id_got == m.message_id_want).all()


def test_checkpoint_resume_idempotent(spark, entrymod):
    """Resume must not double-process done partitions (attempt stays
    'first'), must mark the zero-row partition done with zero logged rows,
    and must purge stale crashed-attempt rows."""
    out = (
        entrymod.queries()["checkpoint_resume"](spark, SF001)
        .toPandas()
        .set_index("partition_id")
    )
    assert sorted(out.index) == list(range(8))
    assert (out.status == "done").all()
    for pid in (0, 1, 2):
        assert out.loc[pid, "attempt"] == "first"
    for pid in (3, 4, 6, 7):
        assert out.loc[pid, "attempt"] == "resumed"
    # partition 5: zero rows emitted, stale rows purged, still marked done
    assert out.loc[5, "attempt"] == "none"
    assert out.loc[5, "rows_logged"] == 0
    assert out.loc[5, "n_rows"] == 0
    # non-empty partitions logged exactly what was written
    nz = out.drop(index=5)
    assert (nz.rows_logged == nz.n_rows).all()
    assert (nz.n_rows > 0).all()


def test_checkpoint_resume_third_run_noop(spark, entrymod):
    """A third run over the same lineage is a no-op: run_with_checkpoint
    short-circuits when no partition is pending (empty pending-id set)."""
    import tempfile

    from geoharvest_spark.checkpoint import CheckpointStore, run_with_checkpoint

    base = tempfile.mkdtemp(prefix="ckpt_noop_")
    store = CheckpointStore(spark, f"{base}/lineage")
    work = spark.read.parquet(f"{SF001}/events.parquet").select(
        "event_id", (F.col("event_id") % 4).cast("int").alias("partition_id")
    )
    calls = []

    def proc(df):
        calls.append(1)
        return df

    out_dir = f"{base}/out"
    run_with_checkpoint(spark, work, proc, store, "j", "s", out_dir)
    n1 = spark.read.parquet(f"{out_dir}/data").count()
    run_with_checkpoint(spark, work, proc, store, "j", "s", out_dir)
    n2 = spark.read.parquet(f"{out_dir}/data").count()
    assert n1 == n2 == work.count()
    assert len(calls) == 1  # second run never invoked process()


def _sessionize_to_parquet(spark, in_dir, out_dir, ckpt_dir):
    """Start sessionize_stateful over a file-source stream, writing closed
    sessions to a parquet FILE sink (append mode, exactly-once via the
    file-sink log) — the restartable deployment shape."""
    from geoharvest_spark.streaming import (
        EVENT_STREAM_SCHEMA,
        sessionize_stateful,
    )

    stream = (
        spark.readStream.schema(EVENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    return (
        sessionize_stateful(
            stream.withWatermark("event_ts", "10 seconds"), gap_seconds=60
        )
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt_dir)
        .outputMode("append")
        .start()
    )


def test_stream_restart_from_checkpoint(spark, tmp_path):
    """Kill/restart across the same checkpointLocation: stop the stateful
    sessionization after the first micro-batch, write more input, restart
    — the recovered run's final output must equal an uninterrupted run
    over the identical input (state-store recovery + file-sink
    exactly-once, the at-least-once resume behavior the reference's ack
    loop provides, mit.py:251-263)."""
    import datetime as dt

    import pandas as pd

    from geoharvest_spark.streaming import (
        EVENT_STREAM_SCHEMA,
        synth_session_rows,
    )

    def _flush(seq, day):
        return {
            "message_id": f"flush{seq}",
            "event_ts": dt.datetime(2024, 1, day),
            "event": "created",
            "url": "https://cdn.mit.test/gis/zzflush.zip",
            "seq": 10_000 + seq,
        }

    batches = [synth_session_rows(), [_flush(0, 2)], [_flush(1, 3)]]

    def _write_batch(in_dir, rows):
        spark.createDataFrame(
            pd.DataFrame(rows), EVENT_STREAM_SCHEMA
        ).coalesce(1).write.mode("append").parquet(in_dir)

    # interrupted run: batch 1, STOP, batches 2-3, restart from checkpoint
    in_a = str(tmp_path / "in_a")
    out_a = str(tmp_path / "out_a")
    ckpt_a = str(tmp_path / "ckpt_a")
    _write_batch(in_a, batches[0])
    q = _sessionize_to_parquet(spark, in_a, out_a, ckpt_a)
    q.processAllAvailable()
    q.stop()  # "crash" between micro-batches
    for rows in batches[1:]:
        _write_batch(in_a, rows)
    q = _sessionize_to_parquet(spark, in_a, out_a, ckpt_a)
    q.processAllAvailable()
    q.stop()

    # uninterrupted twin: same three files, fresh checkpoint, one run
    in_b = str(tmp_path / "in_b")
    out_b = str(tmp_path / "out_b")
    for rows in batches:
        _write_batch(in_b, rows)
    q = _sessionize_to_parquet(spark, in_b, out_b, str(tmp_path / "ckpt_b"))
    q.processAllAvailable()
    q.stop()

    cols = ["url", "sess_start", "sess_end", "n_events"]
    got = (
        spark.read.parquet(out_a)
        .toPandas()[cols]
        .sort_values(cols)
        .reset_index(drop=True)
    )
    want = (
        spark.read.parquet(out_b)
        .toPandas()[cols]
        .sort_values(cols)
        .reset_index(drop=True)
    )
    assert len(got) == len(want) and len(want) > 0
    assert got.equals(want)
    # and both equal the batch gap-cumsum truth row count: every data
    # session closed exactly once (10 urls, 2-4 sessions each)
    assert len(want[~want.url.str.contains("zzflush")]) == 29


def test_stream_windowed_counts_matches_batch(spark, entrymod):
    """Complete-mode windowed counts through the real stream equal the
    batch tumbling-window aggregation (pandas recomputation)."""
    import pandas as pd

    from geoharvest_spark.streaming import synth_event_batch

    out = entrymod.queries()["stream_windowed_counts"](spark, SF001).toPandas()
    rows = []
    for i0 in (0, 120, 240):
        rows.extend(synth_event_batch(i0, 120))
    pdf = pd.DataFrame(rows)
    valid = pdf[pdf.event.isin(["created", "deleted"]) & pdf.url.notna()].copy()
    valid["win"] = (
        valid.event_ts.astype("int64") // 10**9 // 300 * 300
    )
    truth = (
        valid.groupby(["win", "event"]).size().rename("n").reset_index()
    )
    assert len(out) == len(truth)
    m = out.merge(
        truth, left_on=["win_start_epoch", "event"], right_on=["win", "event"]
    )
    assert len(m) == len(truth)
    assert (m.n_x == m.n_y).all()


def _curate_stream_to_parquet(spark, in_dir, out_dir, ckpt):
    """The stream_curate_ingest stage chain (extract -> quality gate ->
    PII -> stateful content dedup) against a parquet file sink."""
    from geoharvest_spark import textops as tx
    from geoharvest_spark import webops as wb

    stream = (
        spark.readStream.schema("doc_id long, url string, html string")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    d = wb.with_canonical_url(stream).withColumn(
        "text", wb.extract_text_from_html(F.col("html"))
    )
    d = tx.with_quality(d).where(
        (F.col("n_words") >= 5) & (F.col("distinct_ratio") >= 0.2)
    )
    d = tx.redact_pii(d)
    d = d.withColumn("text_md5", F.md5("text")).dropDuplicates(["text_md5"])
    out = d.select("doc_id", "canonical_url", "n_email", "text_md5")
    return (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )


def test_stream_curate_restart_from_checkpoint(spark, tmp_path):
    """Kill/restart across the same checkpointLocation for the curation
    slice: stop after batch 1, append batches 2-3 (which recrawl batch-1
    content under new urls + bring new content), restart — the recovered
    run's output must equal an uninterrupted twin (state-store recovery
    keeps batch-1 content winners; exactly-once file sink)."""
    import pandas as pd

    def _page(i):
        cid = i % 8  # ids 8+ recrawl content of ids < 8
        body = (
            f"alpha beta gamma delta epsilon zeta eta theta c{cid} "
            f"mail u{cid}@ex.com num {1000000000 + cid}"
        )
        return {
            "doc_id": i,
            "url": f"https://ex{i}.test/p/{i}",
            "html": f"<html><body><p>{body}</p></body></html>",
        }

    batches = [[_page(i) for i in rng] for rng in
               (range(0, 6), range(6, 10), range(10, 16))]

    def _write(in_dir, rows):
        spark.createDataFrame(pd.DataFrame(rows)).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    in_a, out_a, ck_a = (str(tmp_path / x) for x in ("ia", "oa", "ca"))
    _write(in_a, batches[0])
    q = _curate_stream_to_parquet(spark, in_a, out_a, ck_a)
    q.processAllAvailable()
    q.stop()  # "crash" between micro-batches
    for rows in batches[1:]:
        _write(in_a, rows)
    q = _curate_stream_to_parquet(spark, in_a, out_a, ck_a)
    q.processAllAvailable()
    q.stop()

    in_b, out_b, ck_b = (str(tmp_path / x) for x in ("ib", "ob", "cb"))
    for rows in batches:
        _write(in_b, rows)
    q = _curate_stream_to_parquet(spark, in_b, out_b, ck_b)
    q.processAllAvailable()
    q.stop()

    cols = ["doc_id", "canonical_url", "n_email", "text_md5"]
    got = (
        spark.read.parquet(out_a).toPandas()[cols]
        .sort_values(cols).reset_index(drop=True)
    )
    want = (
        spark.read.parquet(out_b).toPandas()[cols]
        .sort_values(cols).reset_index(drop=True)
    )
    assert got.equals(want) and len(want) == 8  # one winner per content
    assert set(want["doc_id"]) == set(range(8))  # first arrivals
    assert (want["n_email"] == 1).all()  # PII ran inside the stream


def test_stream_cdc_restart_from_checkpoint(spark, tmp_path):
    """Kill/restart for streaming CDC maintenance: foreachBatch folds
    seq-ordered changesets into a batch-id-versioned parquet snapshot.
    Crash after batch 1, restart with batches 2-3 — the recovered
    state must equal an uninterrupted twin AND the one-shot batch
    MERGE over the full changeset (the bid-derived predecessor path is
    what makes replay idempotent; a closure-held path would re-fold
    from init after restart)."""
    import pandas as pd

    from geoharvest_spark.snapshots import apply_changes

    snap_rows = [(i, f"name{i}", i * 10) for i in range(20)]
    batches = [
        [(5, "U", 1, "five_stale", 51), (100, "I", 1, "hundred", 1000),
         (999, "D", 1, None, None)],
        [(5, "U", 2, "five_v2", 52), (7, "U", 2, "seven_v2", 72)],
        [(3, "D", 3, None, None), (100, "D", 3, None, None)],
    ]
    sch = "k long, op string, seq long, name string, v long"

    def _write(in_dir, rows):
        spark.createDataFrame(rows, sch).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    def _run(tag, pre_rows, post_rows):
        import os as _os

        in_d = str(tmp_path / f"in_{tag}")
        _os.makedirs(in_d, exist_ok=True)  # twin "b" starts empty
        ck = str(tmp_path / f"ck_{tag}")
        st = str(tmp_path / f"st_{tag}")
        snap = spark.createDataFrame(snap_rows, "k long, name string, v long")
        snap.write.mode("overwrite").parquet(f"{st}/init")
        last = {"bid": -1}

        def fold(bdf, bid):
            ss = bdf.sparkSession
            prev = f"{st}/init" if bid == 0 else f"{st}/b{bid - 1}"
            apply_changes(ss.read.parquet(prev), bdf, "k").write.mode(
                "overwrite"
            ).parquet(f"{st}/b{bid}")
            last["bid"] = max(last["bid"], bid)

        def _start():
            stream = (
                spark.readStream.schema(sch)
                .option("maxFilesPerTrigger", 1)
                .parquet(in_d)
            )
            return (
                stream.writeStream.foreachBatch(fold)
                .option("checkpointLocation", ck)
                .start()
            )

        for rows in pre_rows:
            _write(in_d, rows)
        q = _start()
        q.processAllAvailable()
        q.stop()  # crash point
        for rows in post_rows:
            _write(in_d, rows)
        q = _start()
        q.processAllAvailable()
        q.stop()
        return (
            spark.read.parquet(f"{st}/b{last['bid']}")
            .toPandas()
            .sort_values("k")
            .reset_index(drop=True)
        )

    got = _run("a", [batches[0]], batches[1:])
    want = _run("b", [], batches)  # uninterrupted twin
    assert got.equals(want)
    # and both equal the one-shot MERGE over the full changeset
    snap = spark.createDataFrame(snap_rows, "k long, name string, v long")
    all_ch = spark.createDataFrame(
        [r for b in batches for r in b], sch
    )
    merged = (
        apply_changes(snap, all_ch, "k")
        .toPandas()
        .sort_values("k")
        .reset_index(drop=True)
    )
    assert got.equals(merged)
    ks = set(got["k"])
    assert 3 not in ks and 100 not in ks and 999 not in ks
    assert got[got.k == 5]["name"].iloc[0] == "five_v2"


def test_compaction_plan_semantics(spark):
    from geoharvest_spark.snapshots import compaction_plan

    m = spark.createDataFrame(
        [("a", 1, 3000, 10), ("a", 2, 3000, 20), ("a", 3, 3000, 30),
         ("a", 4, 9000, 40), ("a", 5, 100, 50), ("b", 6, 100, 5)],
        "part string, file_id long, n_bytes long, sort_key long",
    )
    out = {(r["part"], r["bin_id"]): (r["n_files"], r["total_bytes"],
                                      r["min_key"], r["max_key"])
           for r in compaction_plan(m, target_bytes=8192).collect()}
    # a: prefix sums 0,3000,6000,9000,18000 -> bins 0,0,0,1,2
    assert out[("a", 0)] == (3, 9000, 10, 30)
    assert out[("a", 1)] == (1, 9000, 40, 40)
    assert out[("a", 2)] == (1, 100, 50, 50)
    assert out[("b", 0)] == (1, 100, 5, 5)
    import pytest as _p
    with _p.raises(ValueError):
        compaction_plan(m, target_bytes=0)


def test_stream_interval_join_restart_from_checkpoint(spark, tmp_path):
    """Kill/restart for the stream-stream interval join: stop after the
    first micro-batch (buffered view/click state in the state store),
    add the remaining files, restart from the same checkpoint — the
    recovered run's matches must equal an uninterrupted run AND the
    batch interval join (exactly once, no lost buffered state)."""
    import pandas as pd

    from geoharvest_spark.streaming import interval_stream_join

    t0 = 1704067200

    def _views(lo, hi):
        return pd.DataFrame(
            [{"user": i % 5, "v_ts": pd.Timestamp((t0 + i * 60) * 10**9),
              "view_id": i} for i in range(lo, hi)]
        )

    def _clicks(lo, hi):
        return pd.DataFrame(
            [{"c_user": j % 5, "c_ts": pd.Timestamp(
                (t0 + j * 40 + 17) * 10**9), "click_id": j}
             for j in range(lo, hi)]
        )

    def _stage(base, parts):
        for vdf, cdf in parts:
            spark.createDataFrame(
                vdf, "user long, v_ts timestamp, view_id long"
            ).coalesce(1).write.mode("append").parquet(f"{base}/v")
            spark.createDataFrame(
                cdf, "c_user long, c_ts timestamp, click_id long"
            ).coalesce(1).write.mode("append").parquet(f"{base}/c")

    def _run(base, ckpt, out):
        vs = (spark.readStream
              .schema("user long, v_ts timestamp, view_id long")
              .option("maxFilesPerTrigger", 1).parquet(f"{base}/v"))
        cs = (spark.readStream
              .schema("c_user long, c_ts timestamp, click_id long")
              .option("maxFilesPerTrigger", 1).parquet(f"{base}/c"))
        q = (interval_stream_join(vs, cs, max_lag_seconds=300)
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt).outputMode("append")
             .start())
        q.processAllAvailable()
        q.stop()

    parts = [(_views(0, 20), _clicks(0, 30)),
             (_views(20, 40), _clicks(30, 60))]
    # interrupted: part 1, crash, part 2, resume
    a = str(tmp_path / "a")
    _stage(a, parts[:1])
    _run(a, f"{a}/ckpt", f"{a}/out")
    _stage(a, parts[1:])
    _run(a, f"{a}/ckpt", f"{a}/out")
    # uninterrupted twin
    b = str(tmp_path / "b")
    _stage(b, parts)
    _run(b, f"{b}/ckpt", f"{b}/out")

    cols = ["user", "view_id", "click_id"]
    got = (spark.read.parquet(f"{a}/out").toPandas()[cols]
           .sort_values(cols).reset_index(drop=True))
    want = (spark.read.parquet(f"{b}/out").toPandas()[cols]
            .sort_values(cols).reset_index(drop=True))
    assert len(got) == len(want) > 0 and got.equals(want)
    # batch truth
    vall = pd.concat([p[0] for p in parts])
    call = pd.concat([p[1] for p in parts])
    truth = sorted(
        (int(v.user), int(v.view_id), int(c.click_id))
        for v in vall.itertuples()
        for c in call.itertuples()
        if v.user == c.c_user and 0 <= (c.c_ts - v.v_ts).total_seconds() <= 300
    )
    assert sorted(map(tuple, got.values.tolist())) == truth


def test_maintain_agg_from_changelog_semantics(spark):
    from geoharvest_spark.snapshots import maintain_agg_from_changelog

    base = spark.createDataFrame(
        [("a", 2, 30), ("b", 1, 5)], "key string, n_rows long, val_sum long"
    )
    ch = spark.createDataFrame(
        [("a", "U", 25, 10), ("a", "D", 20, None), ("b", "I", 7, None),
         ("c", "I", 3, None), ("b", "D", 5, None), ("b", "D", 7, None)],
        "key string, op string, val long, old_val long",
    )
    out = {r["key"]: (r["n_rows"], r["val_sum"])
           for r in maintain_agg_from_changelog(base, ch).collect()}
    # a: count 2-1, sum 30+(25-10)-20; b: count reaches 0 -> dropped
    assert out == {"a": (1, 25), "c": (1, 3)}
    # batch-splitting commutes: applying the changelog in two halves
    # through the operator equals one-shot
    h1 = ch.limit(3)
    h2 = ch.subtract(h1)
    step = maintain_agg_from_changelog(base, h1)
    two = {r["key"]: (r["n_rows"], r["val_sum"])
           for r in maintain_agg_from_changelog(step, h2).collect()}
    assert two == out
