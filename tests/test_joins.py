"""Spatial-join golden tests: PIP vs shapely-free ray-cast oracle, kNN vs
brute-force haversine oracle (FIXTURES.md T4/T5 golden row-sets)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geoharvest_spark import geo
from geoharvest_spark.joins import knn_brute_force, knn_join, pip_join
from geoharvest_spark.synth import polygons_df, polygons_pdf, query_points_df, query_points_pdf


@pytest.fixture(scope="module")
def points_df(spark):
    """Deterministic point cloud (hot-region skewed like synth pages)."""
    rng = np.random.RandomState(7)
    n = 4000
    hot = rng.rand(n) < 0.6
    lon = np.where(
        hot,
        np.take([-71.1, 8.5, 121.5], rng.randint(0, 3, n)) + rng.uniform(-5, 5, n),
        rng.uniform(-179, 179, n),
    )
    lat = np.where(
        hot,
        np.take([42.36, 47.4, 31.2], rng.randint(0, 3, n)) + rng.uniform(-4, 4, n),
        rng.uniform(-85, 85, n),
    )
    pdf = pd.DataFrame(
        {
            "point_id": [f"p{i:05d}" for i in range(n)],
            "lon": np.round(lon, 6),
            "lat": np.round(lat, 6),
        }
    )
    return spark.createDataFrame(pdf).cache(), pdf


def _pip_oracle(points_pdf: pd.DataFrame, polys_pdf: pd.DataFrame) -> set:
    out = set()
    for _, poly in polys_pdf.iterrows():
        rings = geo.parse_polygon_wkt(poly.wkt)
        b = poly.bbox
        m = (
            (points_pdf.lon >= b["w"]) & (points_pdf.lon <= b["e"])
            & (points_pdf.lat >= b["s"]) & (points_pdf.lat <= b["n"])
        )
        sub = points_pdf[m]
        if len(sub) == 0:
            continue
        inside = geo.points_in_polygon(sub.lon.to_numpy(), sub.lat.to_numpy(), rings)
        out.update((pid, poly.poly_id) for pid in sub.point_id[inside])
    return out


def test_pip_join_matches_oracle(spark, points_df):
    pts, pdf = points_df
    polys = polygons_df(spark, 200)
    got = {
        (r.point_id, r.poly_id)
        for r in pip_join(pts, polys, res=5, rows_per_task=500).select(
            "point_id", "poly_id"
        ).collect()
    }
    expected = _pip_oracle(pdf, polygons_pdf(200))
    assert got == expected
    assert len(expected) > 100  # non-trivial overlap


def test_pip_join_unsalted_equals_salted(spark, points_df):
    """Salting never changes results: rows_per_task=300 salts the hot
    cells, 10**9 gives every cell salt_k = 1 (the unsalted plan); both
    equal the oracle."""
    pts, pdf = points_df
    polys = polygons_df(spark, 50)
    expected = _pip_oracle(pdf, polygons_pdf(50))
    assert len(expected) > 0
    for rows_per_task in (300, 10**9):
        got = {
            (r.point_id, r.poly_id)
            for r in pip_join(pts, polys, res=5, rows_per_task=rows_per_task)
            .select("point_id", "poly_id").collect()
        }
        assert got == expected, rows_per_task


def _ring_pdf(rows) -> pd.DataFrame:
    """(poly_id, w, s, e, n) boxes -> POLYGONS_SCHEMA rows, the ring on
    the box and the bbox as given (w > e stays as it is)."""
    return pd.DataFrame([
        {
            "poly_id": pid,
            "wkt": f"POLYGON (({w} {s}, {e} {s}, {e} {n}, {w} {n}, {w} {s}))",
            "bbox": {"w": w, "e": e, "s": s, "n": n},
        }
        for pid, w, s, e, n in rows
    ])


def test_pip_join_prunes_both_sides_matches_oracle(spark):
    """Points outside every cover cell and polygons whose cover holds no
    point both drop out at the census join, and the answer still equals
    the oracle. The census is a driver-side local relation, never cached:
    the plan reads no cached table and the session cache stays empty."""
    from geoharvest_spark.schema import POLYGONS_SCHEMA

    rng = np.random.RandomState(5)
    n = 600
    inside = rng.rand(n) < 0.5
    pdf = pd.DataFrame({
        "point_id": [f"q{i:04d}" for i in range(n)],
        # half inside the two populated boxes, half in the far south-west
        # where no polygon reaches
        "lon": np.round(np.where(inside, rng.uniform(0, 20, n),
                                 rng.uniform(-170, -120, n)), 6),
        "lat": np.round(np.where(inside, rng.uniform(0, 10, n),
                                 rng.uniform(-80, -50, n)), 6),
    })
    polys_pdf = _ring_pdf([
        ("a", 0.0, 0.0, 12.0, 10.0),
        ("b", 8.0, 2.0, 20.0, 6.0),
        ("empty_ne", 100.0, 60.0, 110.0, 70.0),  # its cover holds no point
        ("empty_nw", -60.0, 40.0, -40.0, 45.0),
    ])
    pts = spark.createDataFrame(pdf)
    polys = spark.createDataFrame(polys_pdf, schema=POLYGONS_SCHEMA)
    spark.catalog.clearCache()  # other tests' fixtures cache their inputs
    df = pip_join(pts, polys, res=5, rows_per_task=20)
    got = {(r.point_id, r.poly_id) for r in df.select("point_id", "poly_id").collect()}
    expected = _pip_oracle(pdf, polys_pdf)
    assert got == expected and len(expected) > 100
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan
    assert df.count() == len(expected)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_antimeridian_bbox_raises(spark):
    """A bbox with w > e must raise, not cover the wrong side of the globe
    and silently drop every match; a null bbox still covers no cell."""
    from geoharvest_spark.joins import bbox_overlap_join
    from geoharvest_spark.schema import POLYGONS_SCHEMA

    pts = spark.createDataFrame(
        pd.DataFrame({"point_id": [1], "lon": [175.0], "lat": [-15.0]})
    )

    def polys(rows):
        pdf = _ring_pdf(rows)
        pdf["wkt"] = "POLYGON ((170 -20, 180 -20, 180 -10, 170 -10, 170 -20))"
        return spark.createDataFrame(pdf, schema=POLYGONS_SCHEMA)

    ok = pip_join(pts, polys([("r", 170.0, -20.0, 180.0, -10.0)]))
    assert [(r.point_id, r.poly_id) for r in ok.collect()] == [(1, "r")]
    for w, s, e, n in [(170.0, -20.0, -170.0, -10.0), (170.0, -10.0, 180.0, -20.0)]:
        with pytest.raises(Exception, match="w > e or s > n"):
            pip_join(pts, polys([("r", w, s, e, n)])).collect()
    null_bbox = spark.createDataFrame(
        [("r", "POLYGON ((170 -20, 180 -20, 180 -10, 170 -10, 170 -20))", None)],
        schema=POLYGONS_SCHEMA,
    )
    assert pip_join(pts, null_bbox).count() == 0

    box = "long, w double, e double, s double, n double"
    a = spark.createDataFrame([(1, 170.0, -170.0, -20.0, -10.0)], "lid " + box)
    b = spark.createDataFrame([(2, 175.0, 176.0, -16.0, -14.0)], "rid " + box)
    with pytest.raises(Exception, match="w > e or s > n"):
        bbox_overlap_join(a, b).collect()


def test_pip_main_join_not_broadcast(spark, points_df):
    """North rule: the big (cell, salt) spatial join must be a shuffle join
    (the hinted ShuffledHashJoin), never a broadcast. Tiny dim lookups
    (salt-factor census) MAY broadcast — that's desirable."""
    pts, _ = points_df
    polys = polygons_df(spark, 50)
    plan = pip_join(pts, polys, res=5)._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan
    # the shuffled-hash join is the one keyed on (cell, salt)
    import re

    shj = [seg for seg in plan.split("\n") if "ShuffledHashJoin" in seg]
    assert any("cell" in s for s in shj)


def _knn_sorted(df) -> pd.DataFrame:
    return (
        df.select("qid", "point_id", "rank", "dist_m")
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )


def test_knn_matches_brute_force(spark, points_df):
    pts, _ = points_df
    queries = query_points_df(spark, 120)
    exp = _knn_sorted(knn_brute_force(queries, pts))
    got = _knn_sorted(knn_join(queries, pts, res=4, ring=1))
    assert got.shape == exp.shape
    pd.testing.assert_frame_equal(got, exp)


def test_knn_adversarial_shapes_match_brute_force(spark):
    """One ring pass sized from the census must stay exact on the shapes
    that break ring-based kNN: a far-away cluster (whole-grid ring),
    poles and the antimeridian, 100-way ties, k = 0, k > n, no points,
    and a join grid finer than the census."""
    from geoharvest_spark import index as ix
    from geoharvest_spark.joins import _census_level, _knn_rings

    rng = np.random.RandomState(3)
    pts_rows = [  # one far cluster
        (i, 100.0 + rng.uniform(-0.5, 0.5), -30.0 + rng.uniform(-0.5, 0.5))
        for i in range(200)
    ]
    pts_rows += [(1000 - i, 179.99, 89.5) for i in range(100)]  # 100-way tie
    pts_rows += [(2000, -180.0, -90.0), (2001, 180.0, 0.0), (2002, -179.99, 1.0)]
    q_rows = [
        (0, -80.0, 40.0, 5),   # antipodal side of the cluster
        (1, 0.0, 90.0, 7),
        (2, 45.0, -90.0, 3),
        (3, 180.0, 0.5, 4),
        (4, -180.0, -0.5, 12),
        (5, 179.99, 89.5, 20),  # on the tie: ranks by point_id
        (6, -179.99, 45.0, 1),
        (7, 100.0, -30.0, 0),  # k = 0
        (8, 10.0, 10.0, 10_000),  # k > n
    ]
    q_schema = "qid long, lon double, lat double, k int"
    p_schema = "point_id long, lon double, lat double"
    queries = spark.createDataFrame(q_rows, q_schema)
    pts = spark.createDataFrame(pts_rows, p_schema)

    exp = _knn_sorted(knn_brute_force(queries, pts))
    for res in (4, 9):  # 9: finer than the census, which caps at 8
        got = _knn_sorted(knn_join(queries, pts, res=res, ring=1))
        pd.testing.assert_frame_equal(got, exp)
    assert (exp.qid == 7).sum() == 0 and (exp.qid == 8).sum() == len(pts_rows)
    tie = exp[exp.qid == 5].point_id.tolist()
    assert tie == sorted(tie)

    # the far query's ring is the whole grid: every occupied cell
    res = 4
    lvl = _census_level(res)
    grid = np.zeros((ix.ghcell_nx(lvl), ix.ghcell_ny(lvl)), dtype=np.int64)
    lon, lat = np.array([r[1] for r in pts_rows]), np.array([r[2] for r in pts_rows])
    np.add.at(grid, ix.ghcell_xy_np(lon, lat, lvl), 1)
    far = np.array([-80.0]), np.array([40.0]), np.array([5])
    cells, _ = _knn_rings(*far, grid, res, 1)
    assert set(cells[0].tolist()) == set(ix.ghcell_np(lon, lat, res).tolist())

    empty = spark.createDataFrame([], p_schema)
    assert knn_join(queries, empty, res=4).count() == 0
    assert knn_brute_force(queries, empty).count() == 0

    # a point with a null coordinate is never a neighbor; one outside the
    # lon/lat domain (or NaN) would break the ring bounds, so it raises
    no_loc = spark.createDataFrame([(3000, None, 5.0)], p_schema)
    got = _knn_sorted(knn_join(queries, pts.unionByName(no_loc), res=4))
    pd.testing.assert_frame_equal(got, exp)
    for lon, lat in ((200.0, 0.0), (0.0, -95.0), (float("nan"), 0.0)):
        off = spark.createDataFrame([(3001, lon, lat)], p_schema)
        with pytest.raises(ValueError, match="outside"):
            knn_join(queries, pts.unionByName(off), res=4)
    with pytest.raises(Exception, match="outside"):
        knn_join(spark.createDataFrame([(9, 0.0, 91.0, 1)], q_schema), pts).collect()


def test_knn_ring_sizing_covers_kth_neighbor():
    """Sizing-kernel property: D bounds the brute-force k-th distance, and
    every point within D lies in an emitted ring cell."""
    from geoharvest_spark import index as ix
    from geoharvest_spark.joins import _census_level, _knn_rings

    rng = np.random.RandomState(11)
    for trial in range(24):
        res = trial % 10
        n = rng.randint(0, 250)
        if trial % 3 == 0:  # uniform
            lon, lat = rng.uniform(-180, 180, n), rng.uniform(-90, 90, n)
        elif trial % 3 == 1:  # one tight cluster
            lon = np.clip(rng.normal(30, 1, n), -180, 180)
            lat = np.clip(rng.normal(-40, 1, n), -90, 90)
        else:  # poles and the antimeridian
            lon = rng.choice([-180.0, 180.0, 179.99, -179.99, 0.0], n)
            lat = rng.choice([-90.0, 90.0, 89.9, 0.0, -45.0], n)
        lvl = _census_level(res)
        grid = np.zeros((ix.ghcell_nx(lvl), ix.ghcell_ny(lvl)), dtype=np.int64)
        np.add.at(grid, ix.ghcell_xy_np(lon, lat, lvl), 1)
        qlon = np.r_[rng.uniform(-180, 180, 14), 180.0, -180.0, 179.99, 0.0]
        qlat = np.r_[rng.uniform(-90, 90, 14), 90.0, -90.0, 0.0, 89.99]
        k = rng.randint(0, 15, len(qlon))
        cells, d_max = _knn_rings(qlon, qlat, k, grid, res, rng.randint(1, 3))
        pcell = ix.ghcell_np(lon, lat, res)
        for i in range(len(qlon)):
            kk = min(k[i], n)
            if kk == 0:
                assert len(cells[i]) == 0
                continue
            d = geo.haversine_np(lon, lat, qlon[i], qlat[i])
            assert np.sort(d)[kk - 1] <= d_max[i]
            assert np.isin(pcell[d <= d_max[i]], cells[i]).all()


def test_knn_python_oracle_spotcheck(spark, points_df):
    """Independent pure-python haversine check for a handful of queries."""
    pts, pdf = points_df
    qpdf = query_points_pdf(10)
    queries = spark.createDataFrame(qpdf)
    got = knn_join(queries, pts, k=3, res=4, ring=1).toPandas()
    for _, qrow in qpdf.iloc[:5].iterrows():
        d = geo.haversine_np(
            pdf.lon.to_numpy(), pdf.lat.to_numpy(), qrow.lon, qrow.lat
        )
        order = np.lexsort((pdf.point_id.to_numpy(), d))
        expect_ids = list(pdf.point_id.to_numpy()[order[:3]])
        got_ids = list(
            got[got.qid == qrow.qid].sort_values("rank").point_id
        )
        assert got_ids == expect_ids


def test_knn_rank_and_distance_monotone(spark, points_df):
    pts, _ = points_df
    queries = query_points_df(spark, 30)
    out = knn_join(queries, pts, res=4, ring=1).toPandas()
    for qid, grp in out.groupby("qid"):
        grp = grp.sort_values("rank")
        assert list(grp["rank"]) == list(range(1, len(grp) + 1))
        assert grp.dist_m.is_monotonic_increasing


def test_within_radius_join_matches_brute_force(spark):
    from geoharvest_spark.geo import haversine_scalar
    from geoharvest_spark.joins import within_radius_join

    import math

    # sites up to |lat| 79 deg: the zonal span there is ~5x the cell
    # width, so the latitude-aware ring (not a fixed 3x3) is on trial
    sites = [(s, -170.0 + s * 37.3, -79.0 + s * 15.8) for s in range(10)]
    pts = []
    for i in range(1500):
        lon = ((i * 7919) % 36000) / 100.0 - 180.0
        lat = ((i * 104729) % 18000) / 100.0 - 90.0
        pts.append((i, lon, lat))
    sdf = spark.createDataFrame(sites, "site_id long, lon double, lat double")
    pdf = spark.createDataFrame(pts, "point_id long, lon double, lat double")
    r = 900_000
    got = {
        (row["point_id"], row["site_id"]): row["dist_m"]
        for row in within_radius_join(pdf, sdf, r, res=4).collect()
    }
    want = {}
    for pid, plon, plat in pts:
        for sid, slon, slat in sites:
            d = math.floor(haversine_scalar(slon, slat, plon, plat))
            if d <= r:
                want[(pid, sid)] = d
    assert got == want and len(want) > 30


def test_within_radius_polar_site_complete(spark):
    # a site at 89.5 deg: zonal degrees are ~100x meters-degrees; the
    # x-span caps at a full wrap and the join must still be exact
    from geoharvest_spark.geo import haversine_scalar
    from geoharvest_spark.joins import within_radius_join

    import math

    sdf = spark.createDataFrame(
        [(1, 10.0, 89.5)], "site_id long, lon double, lat double"
    )
    pts = [(i, -180.0 + i * 7.3, 88.0 + (i % 20) * 0.1) for i in range(50)]
    pdf = spark.createDataFrame(pts, "point_id long, lon double, lat double")
    r = 150_000
    got = {
        (row["point_id"], row["site_id"]): row["dist_m"]
        for row in within_radius_join(pdf, sdf, r, res=4).collect()
    }
    want = {
        (pid, 1): math.floor(haversine_scalar(10.0, 89.5, plon, plat))
        for pid, plon, plat in pts
        if haversine_scalar(10.0, 89.5, plon, plat) <= r
    }
    assert got == want and len(want) >= 2


def test_within_radius_res_covers_radius(spark):
    # a radius larger than one ring at res=4 must still be found when
    # the caller follows the res contract (here: res 3, ~5.6 deg cells)
    from geoharvest_spark.joins import within_radius_join

    sdf = spark.createDataFrame(
        [(1, 0.0, 0.0)], "site_id long, lon double, lat double"
    )
    pdf = spark.createDataFrame(
        [(1, 4.9, 0.0)], "point_id long, lon double, lat double"
    )
    out = within_radius_join(pdf, sdf, 600_000, res=3).collect()
    assert len(out) == 1 and out[0]["dist_m"] <= 600_000


def test_bbox_overlap_join_matches_brute_force(spark):
    from geoharvest_spark.joins import bbox_overlap_join

    def rect(i, scale):
        cx = ((i * 7919) % 6000) / 100.0 - 30.0
        cy = ((i * 104729) % 4000) / 100.0 - 20.0
        hw = (i % 5) / 2.0 + 0.5
        hh = (i % 3) / 2.0 + 0.5
        return (i, cx - hw * scale, cx + hw * scale, cy - hh, cy + hh)

    a = [rect(i, 1.0) for i in range(0, 300, 2)]
    b = [rect(i, 1.3) for i in range(1, 300, 2)]
    la = spark.createDataFrame(
        a, "lid long, w double, e double, s double, n double"
    )
    rb = spark.createDataFrame(
        b, "rid long, w double, e double, s double, n double"
    )
    got = {
        (r["lid"], r["rid"])
        for r in bbox_overlap_join(la, rb, res=4).collect()
    }
    want = {
        (i, j)
        for i, aw, ae, asx, an in a
        for j, bw, be, bs, bn in b
        if aw <= be and bw <= ae and asx <= bn and bs <= an
    }
    assert got == want and len(want) > 50
    # exactly-once: collect() (not a set) must have no duplicates
    rows = bbox_overlap_join(la, rb, res=4).collect()
    assert len(rows) == len(got)


def test_bbox_overlap_join_plan_has_no_distinct(spark):
    # the reference-point method makes the dedup aggregate unnecessary:
    # the plan is cover-explodes + ONE equi-join + filter, no aggregate
    from geoharvest_spark.joins import bbox_overlap_join

    la = spark.createDataFrame(
        [(1, 0.0, 1.0, 0.0, 1.0)], "lid long, w double, e double, s double, n double"
    )
    rb = spark.createDataFrame(
        [(2, 0.5, 1.5, 0.5, 1.5)], "rid long, w double, e double, s double, n double"
    )
    plan = bbox_overlap_join(la, rb)._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" not in plan and "CartesianProduct" not in plan


def test_interval_overlap_join_exactly_once(spark):
    from geoharvest_spark.joins import interval_overlap_join

    # long intervals spanning many buckets must emit each pair ONCE
    la = spark.createDataFrame(
        [(1, 0, 1000), (2, 500, 600), (3, 2000, 2100)],
        "lid long, s long, e long",
    )
    rb = spark.createDataFrame(
        [(10, 900, 1500), (11, 550, 560), (12, 5000, 5001)],
        "rid long, s long, e long",
    )
    out = interval_overlap_join(la, rb, bucket=64).collect()
    pairs = sorted((r["lid"], r["rid"]) for r in out)
    assert pairs == [(1, 10), (1, 11), (2, 11)]
    d = {(r["lid"], r["rid"]): (r["overlap_start"], r["overlap_end"])
         for r in out}
    assert d[(1, 10)] == (900, 1000)
    assert d[(1, 11)] == (550, 560)
    assert d[(2, 11)] == (550, 560)
    # brute-force oracle on random-ish data, two bucket widths
    import random

    rng = random.Random(3)
    L = [(i, rng.randint(0, 5000)) for i in range(120)]
    la2 = spark.createDataFrame(
        [(i, s, s + rng.randint(0, 400)) for (i, s) in L],
        "lid long, s long, e long",
    )
    lrows = la2.collect()
    R = [(i, rng.randint(0, 5000)) for i in range(120)]
    rb2 = spark.createDataFrame(
        [(i, s, s + rng.randint(0, 300)) for (i, s) in R],
        "rid long, s long, e long",
    )
    rrows = rb2.collect()
    want = sorted(
        (a["lid"], b["rid"])
        for a in lrows
        for b in rrows
        if a["s"] <= b["e"] and b["s"] <= a["e"]
    )
    for bucket in (32, 1024):
        got = sorted(
            (r["lid"], r["rid"])
            for r in interval_overlap_join(la2, rb2, bucket=bucket).collect()
        )
        assert got == want, bucket


def test_interval_overlap_exact_buckets_negative_and_huge(spark):
    """r8 (ADVICE r7): bucket ids are exact integer floor division — the
    old double-division form mis-bucketed endpoints past 2^53 and the
    reference-point rule then double- or zero-emitted pairs. Negative
    endpoints take the true floor (not truncation toward zero)."""
    from geoharvest_spark.joins import interval_overlap_join

    big = (1 << 55) + 3  # not representable exactly as a double
    la = spark.createDataFrame(
        [(1, -130, -70), (2, big, big + 10)], "lid long, s long, e long"
    )
    rb = spark.createDataFrame(
        [(10, -75, -60), (20, big + 5, big + 50), (30, -200, -131)],
        "rid long, s long, e long",
    )
    out = sorted(
        (r.lid, r.rid, r.overlap_start, r.overlap_end)
        for r in interval_overlap_join(la, rb, bucket=64).collect()
    )
    assert out == [(1, 10, -75, -70), (2, 20, big + 5, big + 10)]
