"""Scalar-function surface tests (X1/X3/X5/X7/X13/D1)."""

from __future__ import annotations

from pyspark.sql import functions as F

from geoharvest_spark import functions as gfn


def test_remove_whitespace_col(spark):
    df = spark.createDataFrame(
        [("  a \n b\t c  ",), ("   ",), (None,)], "s string"
    )
    out = [r[0] for r in df.select(gfn.remove_whitespace_col(F.col("s"))).collect()]
    assert out == ["a b c", None, None]


def test_dedupe_array_udf(spark):
    df = spark.createDataFrame(
        [(["boston", "BOSTON", "Boston", "nyc"],), (None,)],
        "a array<string>",
    )
    out = [r[0] for r in df.select(gfn.dedupe_array_udf(F.col("a"))).collect()]
    assert out[0] == ["Boston", "nyc"]
    assert out[1] is None


def test_date_parse_ymd_udf(spark):
    df = spark.createDataFrame([("2022",), ("19900315",), ("junk",), (None,)], "d string")
    out = [r[0] for r in df.select(gfn.date_parse_ymd_udf(F.col("d"))).collect()]
    assert out == ["2022-01-01", "1990-03-15", None, None]


def test_lang_code_udf(spark):
    df = spark.createDataFrame([("en",), ("eng",), ("zz",), (None,)], "c string")
    out = [r[0] for r in df.select(gfn.lang_code_udf(F.col("c"))).collect()]
    assert out == ["eng", "eng", None, None]


def test_short_md5_id(spark):
    import hashlib

    df = spark.createDataFrame([("edu.mit", "a/b.json")], "n string, p string")
    out = df.select(gfn.short_md5_id(F.col("n"), F.col("p"))).first()[0]
    assert out == "edu.mit:" + hashlib.md5(b"a/b.json").hexdigest()[:12]


def test_remove_prefix_suffix(spark):
    df = spark.createDataFrame([("mit:abc.zip",)], "s string")
    out = df.select(
        gfn.remove_prefix(F.col("s"), "mit:").alias("a"),
        gfn.remove_suffix(F.col("s"), ".zip").alias("b"),
    ).first()
    assert out.a == "abc.zip" and out.b == "mit:abc"


def test_python_xxh64_matches_spark(spark):
    """r8: the driver-side XXH64 twin must agree bit-for-bit with
    F.xxhash64 over chained string columns (it precomputes the lm
    model's join keys)."""
    import random
    import string

    from pyspark.sql import functions as F

    from geoharvest_spark.functions import spark_xxhash64_strings

    random.seed(11)
    rows = [("hello", "world"), ("", ""), ("é", "日本"), ("x" * 100, "y")]
    rows += [
        (
            "".join(random.choices(string.ascii_letters + " .,", k=random.randint(0, 64))),
            "".join(random.choices(string.ascii_letters + " .,", k=random.randint(0, 64))),
        )
        for _ in range(40)
    ]
    df = spark.createDataFrame(rows, "w1 string, w2 string")
    got = [r[0] for r in df.select(F.xxhash64("w1", "w2")).collect()]
    exp = [spark_xxhash64_strings(a, b) for a, b in rows]
    assert got == exp


def test_latest_per_key_subsecond_and_far_future(spark, tmp_path):
    """A4 last-event-wins on the shapes a whole-second packed key gets
    wrong: (a) two events in one second where the LATER one has the LOWER
    event_id, (b) a timestamp past 2106-02-07 (epoch seconds >= 2^32).
    The driver query a4 and latest_per_key must both pick the later event,
    exactly as the query's DuckDB oracle does."""
    import datetime as dt
    import os
    import sys

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as E

    t0 = dt.datetime(2024, 1, 1)
    rows = [  # (event_id, ts, user_id, event_type)
        (10, t0 + dt.timedelta(microseconds=900_000), 1, "late"),
        (11, t0 + dt.timedelta(microseconds=100_000), 1, "early"),
        (20, dt.datetime(2150, 6, 1), 2, "future"),
        (21, dt.datetime(2024, 5, 1), 2, "now"),
        (30, t0, 3, "tie_low"),
        (31, t0, 3, "tie_high"),
        (40, t0, 4, "only"),
    ]
    ids, ts, users, kinds = (list(c) for c in zip(*rows))
    table = pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": pa.array(kinds, pa.string()),
    })
    pq.write_table(table, str(tmp_path / "events.parquet"))
    want = [(1, 10, "late"), (2, 20, "future"), (3, 31, "tie_high"), (4, 40, "only")]

    got = [
        tuple(r)
        for r in E.queries()["a4_last_event_per_key"](spark, str(tmp_path)).collect()
    ]
    assert got == want

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
    assert con.execute(E.oracle_sql()["a4_last_event_per_key"]).fetchall() == want

    ev = spark.read.parquet(str(tmp_path / "events.parquet"))
    out = gfn.latest_per_key(
        ev, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()]
    )
    assert out.columns == ev.columns
    assert [
        (r.user_id, r.event_id, r.event_type) for r in out.orderBy("user_id").collect()
    ] == want
