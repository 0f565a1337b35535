"""Cell-index invariants: ghcell grid + pure-numpy S2."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from geoharvest_spark import index as ix


def _rand_lonlat(n=2000, seed=1):
    r = np.random.RandomState(seed)
    return r.uniform(-180, 180, n), r.uniform(-90, 90, n)


def test_ghcell_roundtrip_center():
    lon, lat = _rand_lonlat()
    for res in (5, 7, 9):
        c = ix.ghcell_np(lon, lat, res)
        clon, clat = ix.ghcell_center_np(c)
        assert np.all(ix.ghcell_np(clon, clat, res) == c)


def test_ghcell_parent_containment():
    lon, lat = _rand_lonlat(seed=2)
    c9 = ix.ghcell_np(lon, lat, 9)
    c5 = ix.ghcell_np(lon, lat, 5)
    # decode child, shift by 4 -> parent coords
    rem = c9 % ix.GHCELL_RES_BITS
    x9, y9 = rem // ix.GHCELL_X_BITS, rem % ix.GHCELL_X_BITS
    expected = 5 * ix.GHCELL_RES_BITS + (x9 >> 4) * ix.GHCELL_X_BITS + (y9 >> 4)
    assert np.all(expected == c5)


def test_ghcell_spark_matches_numpy(spark):
    lon, lat = _rand_lonlat(500, seed=3)
    # grid edges and out-of-range inputs: every combination must clamp
    # the same way on both sides
    edge_lon = [-180.0, 180.0, 179.9999999, -200.0, 200.0]
    edge_lat = [-90.0, 90.0, -95.0, 95.0]
    lon = np.concatenate([lon, np.repeat(edge_lon, len(edge_lat))])
    lat = np.concatenate([lat, np.tile(edge_lat, len(edge_lon))])
    pdf = list(zip(range(len(lon)), lon.tolist(), lat.tolist()))
    df = spark.createDataFrame(pdf, "i long, lon double, lat double")
    cell = ix.ghcell(F.col("lon"), F.col("lat"), 7)
    clon, clat = ix.ghcell_center(cell, 7)
    got = (
        df.select(
            "i",
            cell.alias("cell"),
            clon.alias("clon"),
            clat.alias("clat"),
            ix.ghcell(clon, clat, 7).alias("recell"),
        )
        .orderBy("i")
        .toPandas()
    )
    expected = ix.ghcell_np(lon, lat, 7)
    assert np.array_equal(got["cell"].to_numpy(), expected)
    # the Column center round-trips and is bit-identical to the numpy twin
    assert np.array_equal(got["recell"].to_numpy(), expected)
    nlon, nlat = ix.ghcell_center_np(expected)
    assert np.array_equal(got["clon"].to_numpy(), nlon)
    assert np.array_equal(got["clat"].to_numpy(), nlat)


def test_ghcell_sql_fragment_matches(spark):
    """The DuckDB-oracle SQL fragment computes the identical cell ids."""
    import duckdb

    lon, lat = _rand_lonlat(500, seed=4)
    expected = ix.ghcell_np(lon, lat, 7)
    con = duckdb.connect()
    con.execute("CREATE TABLE pts(lon DOUBLE, lat DOUBLE)")
    con.executemany("INSERT INTO pts VALUES (?, ?)", list(zip(lon, lat)))
    frag = ix.ghcell_sql("lon", "lat", 7)
    got = np.array([r[0] for r in con.execute(f"SELECT {frag} FROM pts").fetchall()])
    assert np.array_equal(got, expected)


def test_ghcell_kring_wraps_and_clamps():
    # cell at x=0 wraps to x=nx-1; pole row clamps
    res = 5
    c = ix.ghcell_np(np.array([-179.99]), np.array([89.99]), res)[0]
    ring = ix.ghcell_kring_np(int(c), 1)
    assert int(c) in ring
    assert len(ring) == 6  # top row: 3 wide x 2 tall (clamped above)


def test_s2_level_and_parenthood():
    lon, lat = _rand_lonlat(seed=5)
    leaf = ix.s2_cell_np(lon, lat, 30)
    assert np.all(ix.s2_level_np(leaf) == 30)
    for lvl in (8, 12, 16):
        c = ix.s2_cell_np(lon, lat, lvl)
        assert np.all(ix.s2_level_np(c) == lvl)
        u, ul = c.view(np.uint64), leaf.view(np.uint64)
        lsb = u & (~u + np.uint64(1))
        assert np.all((ul >= u - lsb + np.uint64(1)) & (ul <= u + lsb - np.uint64(1)))


def test_s2_known_region_prefixes():
    """Boston-area S2 leaf ids start 0x89e3 (public S2 geography)."""
    c = ix.s2_cell_np(np.array([-71.06]), np.array([42.36]), 30)
    assert hex(int(c[0]) & (2**64 - 1)).startswith("0x89e")


def test_s2_neighbour_distinctness():
    """Nearby but distinct points get distinct leaves; same point same leaf."""
    lon = np.array([10.0, 10.0, 10.0001])
    lat = np.array([50.0, 50.0, 50.0])
    c = ix.s2_cell_np(lon, lat, 30)
    assert c[0] == c[1] != c[2]


def test_salting_deterministic(spark):
    from geoharvest_spark.synth import web_pages_df
    from geoharvest_spark.pipeline import pages_to_cells

    df = pages_to_cells(web_pages_df(spark, 200), res=5).select("url", "cell")
    factors = ix.salt_factors(df, rows_per_task=10)
    salted1 = ix.with_salt(df, factors).select("url", "salt").toPandas()
    salted2 = ix.with_salt(df, factors).select("url", "salt").toPandas()
    m = salted1.merge(salted2, on="url")
    assert (m.salt_x == m.salt_y).all()
    ex = ix.explode_salts(df.groupBy("cell").count(), factors)
    assert ex.count() >= df.select("cell").distinct().count()


def test_geohash_external_conformance_and_twins(spark):
    """geohash must match the PUBLIC encoding (interoperable with other
    systems): canonical examples pinned, Column/SQL/numpy twins agree,
    and prefix-truncation equals lower precision (the hierarchy
    property geohash range queries rely on)."""
    import duckdb
    import numpy as np
    from pyspark.sql import functions as F

    from geoharvest_spark.index import geohash, geohash_np, geohash_sql

    # canonical published examples
    assert geohash_np(np.array([10.40744]), np.array([57.64911]), 11)[0] == "u4pruydqqvj"
    assert geohash_np(np.array([-5.6]), np.array([42.6]), 5)[0] == "ezs42"
    assert geohash_np(np.array([0.0]), np.array([0.0]), 1)[0] == "s"

    rng = np.random.default_rng(2)
    lon = rng.uniform(-180, 180, 300)
    lat = rng.uniform(-90, 90, 300)
    want = geohash_np(lon, lat, 7)
    df = spark.createDataFrame(
        [(i, float(lon[i]), float(lat[i])) for i in range(300)],
        ["i", "lon", "lat"],
    )
    got = (
        df.select("i", geohash(F.col("lon"), F.col("lat"), 7).alias("g"))
        .orderBy("i")
        .toPandas()["g"]
        .tolist()
    )
    assert got == list(want)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ",".join(f"({i}, {lon[i]!r}, {lat[i]!r})" for i in range(300))
        + ") v(i, lon, lat)"
    )
    sql_got = [
        r[0]
        for r in con.execute(
            f"SELECT {geohash_sql('lon', 'lat', 7)} FROM t ORDER BY i"
        ).fetchall()
    ]
    assert sql_got == list(want)
    # hierarchy: precision-4 hash is the 4-char prefix of precision-7
    p4 = geohash_np(lon, lat, 4)
    assert all(w[:4] == p for w, p in zip(want, p4))


def test_morton_column_matches_numpy_twin(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from geoharvest_spark.index import morton_key, morton_np

    df = spark.range(0, 5000).select(
        (F.col("id") * 37 % 65536).alias("x"),
        (F.col("id") * 101 % 65536).alias("y"),
    )
    got = df.select("x", "y", morton_key(F.col("x"), F.col("y")).alias("z"))
    pdf = got.toPandas()
    exp = morton_np(pdf.x.values, pdf.y.values)
    assert (pdf.z.values == exp).all()


def test_morton_quadtree_nesting():
    import numpy as np

    from geoharvest_spark.index import morton_np

    rs = np.random.RandomState(11)
    x = rs.randint(0, 65536, 1000)
    y = rs.randint(0, 65536, 1000)
    # dropping one resolution level == dropping the low bit pair:
    # the hierarchical-nesting property bbox pruning relies on
    assert (morton_np(x, y) >> 2 == morton_np(x >> 1, y >> 1)).all()


def test_zorder_res_validation(spark):
    import pytest
    from pyspark.sql import functions as F

    from geoharvest_spark.index import zorder_key

    with pytest.raises(ValueError, match="zorder res"):
        zorder_key(F.lit(0.0), F.lit(0.0), res=14)


def test_zorder_layout_files_disjoint(spark, tmp_path):
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from geoharvest_spark.index import zorder_layout

    pts = spark.range(0, 20000).select(
        ((F.col("id") * 7919 % 36000) / 100.0 - 180.0).alias("lon"),
        ((F.col("id") * 104729 % 18000) / 100.0 - 90.0).alias("lat"),
    )
    out = str(tmp_path / "zorder")
    zorder_layout(pts, partitions=8).write.parquet(out)
    import glob

    ranges = []
    for f in glob.glob(f"{out}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        cols = {
            md.row_group(0).column(i).path_in_schema: i
            for i in range(md.row_group(0).num_columns)
        }
        zi = cols["zkey"]
        lo = min(
            md.row_group(g).column(zi).statistics.min
            for g in range(md.num_row_groups)
        )
        hi = max(
            md.row_group(g).column(zi).statistics.max
            for g in range(md.num_row_groups)
        )
        ranges.append((lo, hi))
    ranges.sort()
    assert len(ranges) >= 4
    # the pruning contract: file zkey ranges never overlap, so a spatial
    # bbox (= a set of zkey intervals) touches only the files it must
    for (lo1, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, ranges


def test_ghcell_neighbors_interior_and_corner(spark):
    from pyspark.sql import functions as F

    from geoharvest_spark.index import ghcell, ghcell_neighbors

    df = spark.createDataFrame(
        [(0.0, 0.0), (-180.0, -90.0)], "lon double, lat double"
    )
    got = df.select(
        F.size(
            ghcell_neighbors(ghcell(F.col("lon"), F.col("lat"), 4), 4)
        ).alias("n")
    ).collect()
    # interior cell: 9 neighbors; the SW corner cell: 4 (no wrap)
    assert sorted(r["n"] for r in got) == [4, 9]


def test_smooth_cell_counts_known_grid(spark):
    from pyspark.sql import functions as F

    from geoharvest_spark.index import (
        GHCELL_RES_BITS,
        GHCELL_X_BITS,
        smooth_cell_counts,
    )

    res = 4

    def cid(x, y):
        return res * GHCELL_RES_BITS + x * GHCELL_X_BITS + y

    # two diagonal neighbors deep in the grid interior
    counts = spark.createDataFrame(
        [(cid(10, 10), 5), (cid(11, 11), 7)], "cell long, n long"
    )
    got = {r["cell"]: r["n_smooth"] for r in smooth_cell_counts(counts, res).collect()}
    # 3x3 of each source overlaps on the 2x2 middle block
    assert got[cid(10, 10)] == 12 and got[cid(11, 11)] == 12
    assert got[cid(10, 11)] == 12 and got[cid(11, 10)] == 12
    assert got[cid(9, 9)] == 5 and got[cid(12, 12)] == 7
    # total mass = sum over sources of count * neighborhood size
    assert sum(got.values()) == 5 * 9 + 7 * 9


def test_zrange_decompose_exact_and_superset():
    import random

    import numpy as np

    from geoharvest_spark.index import morton_np, zrange_decompose

    rng = random.Random(11)
    for _ in range(60):
        x0 = rng.randint(0, 300); x1 = x0 + rng.randint(0, 50)
        y0 = rng.randint(0, 300); y1 = y0 + rng.randint(0, 50)
        rs = zrange_decompose(x0, x1, y0, y1, max_ranges=10**9)
        xs, ys = np.meshgrid(np.arange(x0, x1 + 1), np.arange(y0, y1 + 1))
        zs = morton_np(xs.ravel(), ys.ravel())
        covered = np.zeros(len(zs), bool)
        total = 0
        for lo, hi in rs:
            covered |= (zs >= lo) & (zs <= hi)
            total += hi - lo + 1
        assert covered.all()
        # maximal decomposition is EXACT: key count == bbox area
        assert total == (x1 - x0 + 1) * (y1 - y0 + 1)
        # coarsened to any cap stays a superset
        rs4 = zrange_decompose(x0, x1, y0, y1, max_ranges=4)
        assert len(rs4) <= 4
        cov4 = np.zeros(len(zs), bool)
        for lo, hi in rs4:
            cov4 |= (zs >= lo) & (zs <= hi)
        assert cov4.all()


def test_zorder_bbox_predicate_equals_exact_filter(spark):
    from pyspark.sql import functions as F

    from geoharvest_spark.index import zorder_bbox_predicate, zorder_key

    i = F.col("id")
    pts = spark.range(20000).select(
        ((i * 7919 % 36000) / 100.0 - 180.0).alias("lon"),
        ((i * 104729 % 18000) / 100.0 - 90.0).alias("lat"),
    )
    keyed = pts.withColumn("zkey", zorder_key(F.col("lon"), F.col("lat"), 8))
    exact = (
        (F.col("lon") >= -60.0) & (F.col("lon") <= 55.0)
        & (F.col("lat") >= -25.0) & (F.col("lat") <= 40.0)
    )
    zp = zorder_bbox_predicate(
        F.col("zkey"), -60.0, 55.0, -25.0, 40.0, res=8, max_ranges=24,
        stored_key=False,
    )
    # and the stored-key BETWEEN form must select the same rows
    zp_stored = zorder_bbox_predicate(
        F.col("zkey"), -60.0, 55.0, -25.0, 40.0, res=8, max_ranges=24
    )
    n_exact = keyed.where(exact).count()
    n_both = keyed.where(zp & exact).count()
    n_z = keyed.where(zp).count()
    assert n_both == n_exact          # z-ranges never drop bbox rows
    assert n_z >= n_exact             # superset (coarsened ranges)
    # BETWEEN (stored-key) and exists (computed-key) forms agree; the
    # BETWEEN form is only safe on stored columns (inline-reuse trap)
    small = keyed.limit(2000).localCheckpoint()
    assert small.where(zp_stored).count() == small.where(zp).count()


def test_zorder_bbox_predicate_antimeridian_wrap(spark):
    from pyspark.sql import functions as F

    from geoharvest_spark.index import zorder_bbox_predicate, zorder_key

    i = F.col("id")
    pts = spark.range(20000).select(
        ((i * 7919 % 36000) / 100.0 - 180.0).alias("lon"),
        ((i * 104729 % 18000) / 100.0 - 90.0).alias("lat"),
    )
    keyed = pts.withColumn("zkey", zorder_key(F.col("lon"), F.col("lat"), 8))
    # wrapped bbox: lon in [170, 180] U [-180, -170]
    zp = zorder_bbox_predicate(
        F.col("zkey"), 170.0, -170.0, -20.0, 20.0, res=8, max_ranges=24,
        stored_key=False,
    )
    exact = (
        ((F.col("lon") >= 170.0) | (F.col("lon") <= -170.0))
        & (F.col("lat") >= -20.0) & (F.col("lat") <= 20.0)
    )
    n_exact = keyed.where(exact).count()
    assert n_exact > 0
    assert keyed.where(zp & exact).count() == n_exact   # never drops
    assert keyed.where(zp).count() >= n_exact           # superset


def test_zrange3_octree_exact_and_superset():
    import random

    import numpy as np

    from geoharvest_spark.index import morton3_np, zrange3_decompose

    rng = random.Random(13)
    for _ in range(40):
        x0 = rng.randint(0, 80); x1 = x0 + rng.randint(0, 25)
        y0 = rng.randint(0, 80); y1 = y0 + rng.randint(0, 25)
        t0 = rng.randint(0, 80); t1 = t0 + rng.randint(0, 25)
        rs = zrange3_decompose(x0, x1, y0, y1, t0, t1, max_ranges=10**9)
        xs, ys, ts = np.meshgrid(
            np.arange(x0, x1 + 1), np.arange(y0, y1 + 1),
            np.arange(t0, t1 + 1),
        )
        zs = morton3_np(xs.ravel(), ys.ravel(), ts.ravel())
        cov = np.zeros(len(zs), bool)
        total = 0
        for lo, hi in rs:
            cov |= (zs >= lo) & (zs <= hi)
            total += hi - lo + 1
        assert cov.all()
        # exact: key count == box volume
        assert total == (x1-x0+1) * (y1-y0+1) * (t1-t0+1)
        rs8 = zrange3_decompose(x0, x1, y0, y1, t0, t1, max_ranges=8)
        assert len(rs8) <= 8
        cov8 = np.zeros(len(zs), bool)
        for lo, hi in rs8:
            cov8 |= (zs >= lo) & (zs <= hi)
        assert cov8.all()


def test_morton3_key_matches_numpy(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from geoharvest_spark.index import morton3_key, morton3_np

    df = spark.range(500).select(
        (F.col("id") * 7 % 1024).alias("x"),
        (F.col("id") * 13 % 1024).alias("y"),
        (F.col("id") * 31 % 1024).alias("t"),
    )
    got = (
        df.select("x", "y", "t", morton3_key(
            F.col("x"), F.col("y"), F.col("t")).alias("z"))
        .toPandas()
    )
    want = morton3_np(got.x.to_numpy(), got.y.to_numpy(), got.t.to_numpy())
    assert (got.z.to_numpy() == want).all()
