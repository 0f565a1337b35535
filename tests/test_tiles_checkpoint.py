"""Tile pyramid + checkpoint/resume tests."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geoharvest_spark import index as ix
from geoharvest_spark.checkpoint import CheckpointStore, run_with_checkpoint
from geoharvest_spark.normalize import split_failed
from geoharvest_spark.pipeline import harvest_pages
from geoharvest_spark.tiles import (
    PYRAMID,
    assign_tiles,
    records_with_centroid,
    tile_rollup,
    write_tile_tables,
)


@pytest.fixture(scope="module")
def assigned(spark, pages_small):
    ok, _ = split_failed(harvest_pages(pages_small))
    recs = records_with_centroid(ok)
    return assign_tiles(recs).cache(), recs.cache()


def test_tile_assignment_pyramid(assigned):
    tiles, recs = assigned
    n_recs = recs.count()
    assert tiles.count() == n_recs * len(PYRAMID)
    # golden cell math: every row's cell equals ghcell_np(lon, lat, res)
    pdf = tiles.select("lon", "lat", "res", "cell").toPandas()
    for res, grp in pdf.groupby("res"):
        expect = ix.ghcell_np(grp.lon.to_numpy(), grp.lat.to_numpy(), int(res))
        assert np.array_equal(grp.cell.to_numpy(), expect)


def test_tile_parent_child_consistency(assigned):
    tiles, _ = assigned
    pdf = tiles.select("url", "res", "cell").toPandas()
    by_url = pdf.pivot(index="url", columns="res", values="cell")
    for child, parent in ((9, 8), (8, 7), (7, 6), (6, 5)):
        rem = by_url[child] % ix.GHCELL_RES_BITS
        x, y = rem // ix.GHCELL_X_BITS, rem % ix.GHCELL_X_BITS
        expected = (
            parent * ix.GHCELL_RES_BITS + (x // 2) * ix.GHCELL_X_BITS + (y // 2)
        )
        assert (expected == by_url[parent]).all()


def test_s2_assignment_present(assigned):
    tiles, _ = assigned
    assert tiles.where(F.col("s2_cell").isNull()).count() == 0
    lv = tiles.select("s2_cell").limit(200).toPandas().s2_cell.to_numpy()
    assert (ix.s2_level_np(lv) == 12).all()


def test_tile_rollup_envelope(assigned):
    tiles, _ = assigned
    roll = tile_rollup(tiles)
    bad = roll.where(
        (F.col("w") > F.col("e")) | (F.col("s") > F.col("n"))
    ).count()
    # union envelopes are well-formed whenever inputs are
    assert bad == 0
    # counts conserve
    assert (
        roll.agg(F.sum("n_records")).first()[0] == tiles.count()
    )


def test_write_tile_tables(tmp_path, assigned, spark):
    tiles, _ = assigned
    write_tile_tables(tiles, str(tmp_path))
    assert tiles.is_cached  # the caller's cache is left alone
    back = spark.read.parquet(str(tmp_path / "tile_rollup"))
    assert back.where(F.col("res") == 7).count() > 0
    assert {f.name for f in back.schema.fields} >= {
        "cell", "n_records", "w", "e", "n", "s", "res",
    }
    # both tables hold exactly the rows of their source frame (multisets)
    got = spark.read.parquet(str(tmp_path / "tile_assignments")).select(
        *tiles.columns
    )
    assert got.count() == tiles.count()
    assert got.exceptAll(tiles).count() == 0 == tiles.exceptAll(got).count()
    key = ["res", "cell"]
    want = tile_rollup(tiles).toPandas().sort_values(key).reset_index(drop=True)
    roll = back.select(*want.columns).toPandas().sort_values(key)
    roll = roll.reset_index(drop=True)
    exact = ["res", "cell", "n_records", "w", "e", "n", "s"]
    assert roll[exact].equals(want[exact])
    # centroids are double averages: summation order may differ by an ulp
    for c in ("centroid_lon", "centroid_lat"):
        assert np.allclose(roll[c], want[c], rtol=0, atol=1e-9)


def test_checkpoint_resume(tmp_path, spark):
    store = CheckpointStore(spark, str(tmp_path / "lineage"))
    work = spark.range(1000).withColumn(
        "partition_id", (F.col("id") % 10).cast("int")
    )

    calls = []

    def process(df):
        calls.append(1)
        return df.withColumn("y", F.col("id") * 2)

    out1 = run_with_checkpoint(
        spark, work, process, store, "job1", "snap1", str(tmp_path / "out")
    )
    assert out1.count() == 1000
    done = store.completed_partitions("job1", "snap1").count()
    assert done == 10

    # resume: nothing pending -> no reprocessing
    out2 = run_with_checkpoint(
        spark, work, process, store, "job1", "snap1", str(tmp_path / "out")
    )
    assert out2.count() == 1000
    assert len(calls) == 1  # process() not called again

    # partial failure simulation: new snapshot with 3 partitions pre-done
    store.mark("job1", "snap2", [(0, 1, 1), (1, 1, 1), (2, 1, 1)])
    pending = store.pending(work, "job1", "snap2")
    assert pending.select("partition_id").distinct().count() == 7


def test_checkpoint_last_status_wins(tmp_path, spark):
    store = CheckpointStore(spark, str(tmp_path / "lineage2"))
    t0 = dt.datetime(2024, 1, 1)
    store.mark("j", "s", [(0, 5, 5)], status="running", ts=t0)
    store.mark("j", "s", [(0, 10, 10)], status="done", ts=t0 + dt.timedelta(1))
    cur = store.current().collect()
    assert len(cur) == 1 and cur[0]["status"] == "done" and cur[0]["rows"] == 10


@pytest.mark.parametrize("tz", [None, dt.timezone.utc])
def test_checkpoint_mark_ts_is_utc(tmp_path, spark, tz):
    """A naive ts is a UTC wall clock, stored the same as the aware UTC
    ts; microseconds survive."""
    store = CheckpointStore(spark, str(tmp_path / "lineage_ts"))
    t0 = dt.datetime(2024, 3, 10, 12, 30, 0, 123456, tzinfo=tz)
    store.mark("j", "s", [(0, 5, 5)], ts=t0)
    cur = store.current().toPandas()  # session time zone is UTC
    assert len(cur) == 1
    assert cur.updated_ts[0].to_pydatetime() == t0.replace(tzinfo=None)


def test_checkpoint_mark_no_metrics_appends_nothing(tmp_path, spark):
    path = tmp_path / "lineage_empty"
    store = CheckpointStore(spark, str(path))
    store.mark("j", "s", [])
    assert not path.exists()
    assert store.log().count() == 0
    work = spark.range(10).withColumn("partition_id", F.col("id").cast("int"))
    todo = store.pending(work, "j", "s")
    assert "Join" not in todo._jdf.queryExecution().optimizedPlan().toString()
    assert todo.count() == 10
    store.mark("j", "s", [(0, 5, 5)])
    store.mark("j", "s", [])
    assert store.log().count() == 1


def test_checkpoint_zero_output_partition_marked_done(tmp_path, spark):
    """A pending partition whose process() output is ZERO rows must still be
    marked done — otherwise every resume reprocesses it forever (found by
    the r1 advisor; regression-pinned here). Metrics come from the written
    parquet, so zero-output partitions record rows=0."""
    work = spark.range(100).withColumn(
        "partition_id", (F.col("id") % 4).cast("int")
    )
    store = CheckpointStore(spark, str(tmp_path / "lineage3"))
    calls = []

    def process(df):
        calls.append(1)
        # partition 3 contributes NOTHING to the output
        return df.where(F.col("partition_id") != 3).withColumn(
            "y", F.col("id") * 2
        )

    out1 = run_with_checkpoint(
        spark, work, process, store, "jz", "s1", str(tmp_path / "outz")
    )
    assert out1.count() == 75
    # all 4 attempted partitions marked done, including the empty one
    assert store.completed_partitions("jz", "s1").count() == 4
    cur = store.current().toPandas().set_index("partition_id")
    assert cur.loc[3, "rows"] == 0
    # resume: nothing pending, process() NOT re-invoked
    out2 = run_with_checkpoint(
        spark, work, process, store, "jz", "s1", str(tmp_path / "outz")
    )
    assert out2.count() == 75
    assert len(calls) == 1


def test_tile_pyramid_rollup_equals_direct(spark):
    """Hierarchical rollup == per-level direct computation, including the
    pole/antimeridian clamp rows (the floor-halving + clamp-commute
    property the operator relies on)."""
    import numpy as np

    from geoharvest_spark.tiles import tile_pyramid_counts_rollup

    rs = np.random.RandomState(7)
    lon = np.concatenate([rs.uniform(-180, 180, 5000), [-180.0, 179.9999, 0.0]])
    lat = np.concatenate([rs.uniform(-90, 90, 5000), [90.0, -90.0, 89.9999]])
    pdf = pd.DataFrame({"lon": lon, "lat": lat})
    pts = spark.createDataFrame(pdf)

    levels = (5, 6, 7, 8, 9)
    rolled = tile_pyramid_counts_rollup(pts, levels).toPandas()
    direct = []
    for r in levels:
        d = (
            pts.withColumn("cell", ix.ghcell(F.col("lon"), F.col("lat"), r))
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n_points"))
            .withColumn("res", F.lit(r))
            .toPandas()
        )
        direct.append(d[["res", "cell", "n_points"]])
    import pandas as _pd

    direct_pdf = _pd.concat(direct, ignore_index=True)
    key = ["res", "cell"]
    a = rolled.sort_values(key).reset_index(drop=True)[["res", "cell", "n_points"]]
    b = direct_pdf.sort_values(key).reset_index(drop=True)
    assert a.shape == b.shape
    assert (a.values == b.values).all()


def test_checkpoint_file_uri_purges_stale_partitions(tmp_path, spark):
    """ADVICE r4: file:// out_dirs passed the scheme guard, but
    shutil.rmtree('file:///...') raises FileNotFoundError which the purge
    loop swallows — so the stale-partition purge silently no-opped and a
    crashed attempt's stale rows survived. Regression: with a file:// URI,
    a pending partition whose rerun emits ZERO rows must come back empty."""
    out = "file://" + str(tmp_path / "outu")
    store = CheckpointStore(spark, str(tmp_path / "lineageu"))
    work = spark.range(40).withColumn(
        "partition_id", (F.col("id") % 4).cast("int")
    )

    # Simulate a crashed prior attempt: partition 2 has rows on disk but
    # was never marked done, so it is still pending.
    (
        work.where(F.col("partition_id") == 2)
        .withColumn("y", F.lit(-1).cast("long"))
        .write.partitionBy("partition_id")
        .parquet(out + "/data")
    )

    def process(df):
        # The legitimate rerun emits nothing for partition 2.
        return df.where(F.col("partition_id") != 2).withColumn(
            "y", F.col("id") * 2
        )

    out1 = run_with_checkpoint(
        spark, work, process, store, "ju", "s1", out
    )
    assert out1.count() == 30  # stale partition-2 rows purged, not revived
    assert out1.where(F.col("y") < 0).count() == 0
    cur = store.current().toPandas().set_index("partition_id")
    assert cur.loc[2, "rows"] == 0


def test_checkpoint_single_slash_file_uri_purges(tmp_path, spark):
    """ADVICE r5: Hadoop also accepts the single-slash 'file:/path' form,
    which slipped past the old '://'-based guard and skipped the purge
    normalization — reviving the stale-partition bug for that URI form.
    Same scenario as the file:// test, single-slash spelling."""
    out = "file:" + str(tmp_path / "outs")  # 'file:/abs/path'
    assert out.startswith("file:/") and not out.startswith("file://")
    store = CheckpointStore(spark, str(tmp_path / "lineages"))
    work = spark.range(40).withColumn(
        "partition_id", (F.col("id") % 4).cast("int")
    )
    (
        work.where(F.col("partition_id") == 2)
        .withColumn("y", F.lit(-1).cast("long"))
        .write.partitionBy("partition_id")
        .parquet(out + "/data")
    )

    def process(df):
        return df.where(F.col("partition_id") != 2).withColumn(
            "y", F.col("id") * 2
        )

    out1 = run_with_checkpoint(
        spark, work, process, store, "js", "s1", out
    )
    assert out1.count() == 30
    assert out1.where(F.col("y") < 0).count() == 0
    # non-local schemes still refuse loudly
    import pytest

    with pytest.raises(ValueError, match="local-filesystem"):
        run_with_checkpoint(
            spark, work, process, store, "js2", "s1", "s3a://bucket/x"
        )
