"""Spatial joins: point-in-polygon (J3) and kNN (J4).

North-rule plan (BASELINE.json): cell-prefilter equi-join + exact refine,
broadcast-free, salt-partitioned against hot-cell skew.

PIP join
--------
1. build side: polygons explode to the grid cells covering their bbox at a
   fixed resolution (cover is a superset of the polygon, so no false
   negatives);
2. one census of point cells, restricted to covered cells and collected
   to the driver (grid-sized: at most 32 * 4^res rows) -> deterministic
   salt factors (ceil(count/target)). Both sides inner-join it under a
   broadcast, which drops points in uncovered cells and cover cells with
   no point; the build side replicates per salt, the probe side salts by
   xxhash64(key) % k — deterministic under retry/resume;
3. shuffle join on (cell, salt), pinned with a shuffle_hash hint
   (north rule: the polygon side is never broadcast);
4. exact refine: cheap bbox predicate (JVM codegen) then vectorized numpy
   ray-casting inside an Arrow batch, with a per-partition parsed-polygon
   cache so each WKT parses once per partition, not once per row.

kNN join
--------
One exact ring pass. A census of points per cell, two levels finer than
the join grid, is collected to the driver as a dense count grid (its size
is fixed by the grid, never by the data). A query-side UDF sizes each
query's ring from it: an upper bound D on the k-th nearest distance, then
the smallest ring whose guaranteed-coverage radius exceeds D, keeping only
cells with points. Rings equi-join the points on cell -> exact haversine
(JVM expression, no Python) -> drop candidates beyond D -> ranking window
row_number() <= k (distance-sorted pruning). Every point as near as the k-th is in the ring
by construction, so there is no escalation and no brute-force tail.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from . import index as ix
from .geo import EARTH_RADIUS_M, haversine_m, parse_polygon_wkt, points_in_polygon


# ---------------------------------------------------------------------------
# polygon cell cover
# ---------------------------------------------------------------------------
def polygon_cover_cells(polygons: DataFrame, res: int) -> DataFrame:
    """(poly_id, wkt, bbox) -> exploded (cell, poly_id, wkt).

    Cover = all grid cells intersecting the polygon's bbox (superset of the
    true polygon cover; refine removes false positives). Pure Column
    arithmetic — the per-row cell list is built with sequence() so the whole
    thing stays JVM-side.
    """
    bbox = F.col("bbox")
    return ix.explode_bbox_cells(
        polygons, bbox["w"], bbox["e"], bbox["s"], bbox["n"], res
    )


# per-worker parsed-polygon cache: persists across batches AND (with
# spark.python.worker.reuse, the default) across tasks, so each distinct
# WKT parses once per worker process, not once per batch
_PIP_RING_CACHE: dict[str, "list[np.ndarray]"] = {}


@F.arrow_udf(BooleanType())  # DataType object, NOT a DDL string: this module
# is imported inside python workers (CLAUDE.md module-level-udf trap)
def _pip_keep_udf(lon: "pa.Array", lat: "pa.Array", wkt: "pa.Array") -> "pa.Array":
    """Vectorized even-odd ray cast as a columnar Arrow UDF.

    Only (lon, lat, wkt) cross the Python boundary and a single boolean
    comes back — id/payload columns stay in the JVM (guide §4.1: control
    how many columns cross). The previous mapInPandas refine shipped every
    candidate column out and back; at 10.8M candidates the Arrow round
    trip alone cost ~2.7 s (measured with an identity mapInPandas) while
    the ray-cast kernel was near-free. wkt arrives as an Arrow string
    array (no per-row python str materialization); dictionary-encoding it
    groups rows per polygon so the numpy kernel runs once per distinct
    polygon per batch.
    """
    d = wkt.dictionary_encode()
    codes = d.indices.to_numpy(zero_copy_only=False)
    lon_np = lon.to_numpy(zero_copy_only=False)
    lat_np = lat.to_numpy(zero_copy_only=False)
    order = np.argsort(codes, kind="stable")
    n_uniq = len(d.dictionary)
    bounds = np.searchsorted(codes[order], np.arange(n_uniq + 1))
    lon_s, lat_s = lon_np[order], lat_np[order]
    keep_sorted = np.zeros(len(codes), dtype=bool)
    for u_i in range(n_uniq):
        s, e = bounds[u_i], bounds[u_i + 1]
        if s == e:
            continue
        w = d.dictionary[u_i].as_py()
        rings = _PIP_RING_CACHE.get(w)
        if rings is None:
            rings = parse_polygon_wkt(w)
            _PIP_RING_CACHE[w] = rings
        if not rings:
            continue
        keep_sorted[s:e] = points_in_polygon(lon_s[s:e], lat_s[s:e], rings)
    keep = np.zeros(len(codes), dtype=bool)
    keep[order] = keep_sorted
    return pa.array(keep)


# non-deterministic marking stops the optimizer pushing the filter below
# the projection and evaluating the UDF twice (guide §4.4)
_pip_keep = _pip_keep_udf.asNondeterministic()


def _refine_pip(joined: DataFrame) -> DataFrame:
    """Exact PIP refine over candidate pairs (columnar Arrow ray casting)."""
    return (
        joined.withColumn(
            "_pip_in", _pip_keep(F.col("lon"), F.col("lat"), F.col("wkt"))
        )
        .where(F.col("_pip_in"))
        .drop("_pip_in", "wkt")
    )


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    res: int = 5,
    point_key: str = "point_id",
    rows_per_task: int = 200_000,
) -> DataFrame:
    """Point-in-polygon join -> (point columns..., poly_id).

    points: must carry (point_id, lon, lat). polygons: POLYGONS_SCHEMA.
    One census of point cells (run eagerly, one Spark job) inner-joins
    both sides under a broadcast: points in uncovered cells and cover
    cells with no point drop out, and a cell with more than
    ``rows_per_task`` points is salted (``rows_per_task`` >= the point
    count salts nothing). The main join is a shuffle join on (cell, salt).
    """
    # measured (r8): spreading a narrow point source here LOSES (~0.5-0.8 s
    # at sf1.0) — ghcell is cheap codegen and the (cell, salt) join shuffles
    # the points anyway, so the extra exchange is pure cost (guide §2.4)
    pts = points.withColumn("cell", ix.ghcell(F.col("lon"), F.col("lat"), res))

    cover = polygon_cover_cells(polygons, res).select(
        "cell", "poly_id", "wkt", "bbox"
    )
    # the census: point counts per covered cell, collected to the driver
    # as a local relation. It is grid-sized (at most 32 * 4^res rows,
    # never polygon-sized), so broadcasting it keeps the main spatial
    # join broadcast-free
    covered = F.broadcast(cover.select("cell").distinct())
    census = ix.salt_factors(
        pts.join(covered, "cell", "left_semi"), "cell", rows_per_task
    ).toArrow()
    factors = F.broadcast(
        pts.sparkSession.createDataFrame(census, "cell long, salt_k int")
    )
    pts = ix.with_salt(pts, factors, "cell", point_key).drop("salt_k")
    cover = ix.explode_salts(cover, factors, "cell")

    # north rule: broadcast-free main spatial join. A conf toggle would be
    # restored before the (lazy) plan ever executes, so pin the physical
    # strategy with a join HINT instead — shuffled-hash on the cover side
    # co-partitions both sides on (cell, salt) without replicating either.
    cand = pts.join(cover.hint("shuffle_hash"), ["cell", "salt"], "inner")
    # cheap exact-envelope prefilter stays in codegen before Python runs
    cand = cand.where(
        (F.col("lon") >= F.col("bbox.w"))
        & (F.col("lon") <= F.col("bbox.e"))
        & (F.col("lat") >= F.col("bbox.s"))
        & (F.col("lat") <= F.col("bbox.n"))
    ).drop("bbox", "salt", "cell")
    # a polygon may span several cover cells; a point matches in at most
    # one (its own cell) so no dedupe needed — the cell equi-join yields
    # each (point, poly) pair exactly once.
    return _refine_pip(cand)


# ---------------------------------------------------------------------------
# kNN join
# ---------------------------------------------------------------------------
def _ring_guard_m(
    lon: np.ndarray, lat: np.ndarray, res: int, ring
) -> np.ndarray:
    """Guaranteed-coverage radius (meters) of the ring around each query
    (`ring` is a scalar or one radius per query).

    Any point strictly inside this disc is inside some ring cell. Margins:
    - to the box's parallels: R * delta_phi (exact min distance);
    - to the box's meridians: R * asin(sin(min(dlam, pi/2)) * cos(phi_q))
      (exact min distance to a meridian);
    - clamped pole edge -> distance to the pole, or inf when the ring also
      wraps every longitude (the polar cap is then inside the ring); full
      longitude wrap -> inf.
    """
    nx, ny = ix.ghcell_nx(res), ix.ghcell_ny(res)
    deg_x, deg_y = 360.0 / nx, 180.0 / ny
    x, y = ix.ghcell_xy_np(lon, lat, res)
    ring = np.asarray(ring)
    full = 2 * ring + 1 >= nx
    to_m = np.pi / 180.0 * EARTH_RADIUS_M

    y_lo, y_hi = y - ring, y + ring
    lat_bot = np.where(y_lo <= 0, -90.0, -90.0 + y_lo * deg_y)
    lat_top = np.where(y_hi >= ny - 1, 90.0, -90.0 + (y_hi + 1) * deg_y)
    m_south = np.where(
        lat_bot <= -90.0, np.where(full, np.inf, lat + 90.0), lat - lat_bot
    ) * to_m
    m_north = np.where(
        lat_top >= 90.0, np.where(full, np.inf, 90.0 - lat), lat_top - lat
    ) * to_m

    west = -180.0 + (x - ring) * deg_x
    east = -180.0 + (x + ring + 1) * deg_x
    dlam = np.minimum(lon - west, east - lon)  # degrees, >= 0
    dlam_r = np.minimum(np.radians(np.maximum(dlam, 0.0)), np.pi / 2)
    m_lon = np.where(full, np.inf, EARTH_RADIUS_M * np.arcsin(
        np.clip(np.sin(dlam_r) * np.cos(np.radians(lat)), 0.0, 1.0)
    ))
    return np.minimum(np.minimum(m_south, m_north), m_lon)


def _census_level(res: int) -> int:
    """Resolution of the kNN point census: two levels finer than the join
    grid, capped at 8 (a 2048 x 1024 grid, whatever the data size)."""
    return min(res + 2, 8)


def _knn_census(p: DataFrame, res: int) -> np.ndarray:
    """Dense (nx, ny) point-count grid at the census level, from one
    aggregation of the points by cell collected to the driver. Its size
    is fixed by the grid, never by the data.

    A point with a null lon or lat has no cell, so it is never a neighbor
    and is not counted. Any other point outside lon [-180, 180] x lat
    [-90, 90], or NaN, raises ValueError: the ring bounds assume each
    point lies in its cell, which the grid's clamping breaks for them."""
    lvl = _census_level(res)
    lon, lat = F.col("p_lon"), F.col("p_lat")
    x, y = ix.ghcell_xy(lon, lat, lvl)
    ok = lon.between(-180.0, 180.0) & lat.between(-90.0, 90.0)
    cen = (
        p.where(lon.isNotNull() & lat.isNotNull())
        .groupBy(F.when(ok, x).alias("x"), F.when(ok, y).alias("y"))
        .count()
        .toPandas()
    )
    bad = cen["x"].isna()
    if bad.any():
        raise ValueError(
            f"knn_join: {int(cen['count'][bad].sum())} points lie outside "
            "lon [-180, 180] x lat [-90, 90] or are NaN"
        )
    cen = cen[~bad]
    grid = np.zeros((ix.ghcell_nx(lvl), ix.ghcell_ny(lvl)), dtype=np.int64)
    xy = cen["x"].to_numpy(np.int64), cen["y"].to_numpy(np.int64)
    grid[xy] = cen["count"].to_numpy()
    return grid


def _cell_far_m(
    lon: float, lat: float, x: np.ndarray, y: np.ndarray, res: int
) -> np.ndarray:
    """Upper bound (meters) on the distance from (lon, lat) to any point of
    the cells (x, y) at `res`: R * (dphi + cos_max * dlam), the length of a
    path along a meridian and a parallel — the query's parallel, or the
    point's, whose cosine is at most the cell's widest; cos_max is the
    smaller of the two. dlam is 180 degrees when the cell holds the
    query's antimeridian."""
    deg_x, deg_y = 360.0 / ix.ghcell_nx(res), 180.0 / ix.ghcell_ny(res)
    w, s = -180.0 + x * deg_x, -90.0 + y * deg_y
    dphi = np.maximum(np.abs(lat - s), np.abs(s + deg_y - lat))

    def sep(a):  # wrapped longitude separation, degrees in [0, 180]
        return np.abs((a - lon + 180.0) % 360.0 - 180.0)

    anti = (lon + 180.0 - w) % 360.0 <= deg_x
    dlam = np.where(anti, 180.0, np.maximum(sep(w), sep(w + deg_x)))
    cos_max = np.minimum(
        np.cos(np.radians(lat)), np.cos(np.radians(np.clip(0.0, s, s + deg_y)))
    )
    return EARTH_RADIUS_M * np.radians(dphi + cos_max * dlam)


def _first_true(lo: np.ndarray, hi: int, ok) -> np.ndarray:
    """Per element, the smallest s in [lo, hi] with ok(s) true, by
    bisection; ok must be monotone in s and true at hi."""
    hi = np.full(len(lo), hi)
    while (lo < hi).any():
        mid = (lo + hi) // 2
        good = ok(mid)
        lo, hi = np.where(good, lo, mid + 1), np.where(good, mid, hi)
    return lo


def _knn_rings(
    lon: np.ndarray, lat: np.ndarray, k: np.ndarray, grid: np.ndarray,
    res: int, ring: int,
) -> tuple[list[np.ndarray], np.ndarray]:
    """Size each query's ring from the census grid -> (ring cells at `res`
    per query, D per query).

    D bounds the k-th nearest distance from above: the smallest census box
    around the query holding min(k, n) points is ordered by _cell_far_m,
    and D is the bound at which the running count reaches min(k, n),
    padded by a relative 1e-9. The ring is the smallest one >= `ring`
    whose guard radius exceeds D, so every point as near as the k-th lies
    strictly inside it, and only its cells that the census saw points in
    are returned. k <= 0 or no points -> no cells. A query outside lon [-180, 180] x lat [-90, 90], NaN or
    null, raises ValueError."""
    if not ((np.abs(lon) <= 180.0).all() and (np.abs(lat) <= 90.0).all()):
        raise ValueError(
            "knn_join: query lon/lat outside [-180, 180] x [-90, 90] or missing"
        )
    lvl = _census_level(res)
    nxl, nyl = grid.shape
    need = np.minimum(np.maximum(np.asarray(k, dtype=np.int64), 0), grid.sum())
    # summed-area table over the grid tiled twice in x: a wrapped x range
    # of width <= nxl is one contiguous range of the tiled grid
    sat = np.zeros((2 * nxl + 1, nyl + 1), dtype=np.int64)
    sat[1:, 1:] = np.tile(grid, (2, 1)).cumsum(0).cumsum(1)
    qx, qy = ix.ghcell_xy_np(lon, lat, lvl)

    def box_count(s):
        full = 2 * s + 1 >= nxl
        x0 = np.where(full, 0, (qx - s) % nxl)
        x1 = x0 + np.where(full, nxl, 2 * s + 1)
        y0, y1 = np.maximum(qy - s, 0), np.minimum(qy + s, nyl - 1) + 1
        return sat[x1, y1] - sat[x0, y1] - sat[x1, y0] + sat[x0, y0]

    n_q = len(need)
    box = _first_true(  # smallest box holding `need` points
        np.zeros(n_q, dtype=np.int64), max(nxl // 2, nyl - 1),
        lambda s: box_count(s) >= need,
    )
    todo = np.flatnonzero(need > 0)
    d_k = np.zeros(n_q)
    for i in todo:
        xs, ys = ix.ghcell_ring_axes_np(qx[i], qy[i], box[i], lvl)
        counts = grid[np.ix_(xs, ys)]
        bx, by = np.nonzero(counts)
        far = _cell_far_m(lon[i], lat[i], xs[bx], ys[by], lvl)
        order = np.argsort(far)
        hit = np.searchsorted(np.cumsum(counts[bx, by][order]), need[i])
        d_k[i] = far[order[hit]]
    d_k *= 1.0 + 1e-9  # headroom for the last bits of the JVM's haversine

    # smallest ring >= `ring` with guard > D; the whole-grid ring's guard
    # is infinite, so one always qualifies
    nx, ny = ix.ghcell_nx(res), ix.ghcell_ny(res)
    radius = _first_true(
        np.full(n_q, ring, dtype=np.int64), max(ring, nx // 2, ny - 1),
        lambda r: _ring_guard_m(lon, lat, res, r) > d_k,
    )

    # cells with points: the census pooled up to `res`, or, when `res` is
    # finer than the census, the census cell holding each res cell
    shift = max(res - lvl, 0)
    if shift:
        occupied = grid > 0
    else:
        f = 1 << (lvl - res)
        occupied = grid.reshape(nx, f, ny, f).sum(axis=(1, 3)) > 0
    x, y = ix.ghcell_xy_np(lon, lat, res)
    cells = [np.empty(0, dtype=np.int64)] * n_q
    for i in todo:
        xs, ys = ix.ghcell_ring_axes_np(x[i], y[i], radius[i], res)
        cx, cy = np.nonzero(occupied[np.ix_(xs >> shift, ys >> shift)])
        cells[i] = ix.ghcell_from_xy_np(xs[cx], ys[cy], res)
    return cells, d_k


def _knn_rings_udf(grid: np.ndarray, res: int, ring: int):
    @F.pandas_udf("struct<cells: array<long>, d_max: double>")
    def _rings(lon: pd.Series, lat: pd.Series, k: pd.Series) -> pd.DataFrame:
        cells, d_max = _knn_rings(
            lon.to_numpy(), lat.to_numpy(), k.to_numpy(), grid, res, ring
        )
        return pd.DataFrame(
            {"cells": pd.Series(cells, dtype=object), "d_max": d_max}
        )

    # deterministic, but marked otherwise so the optimizer never copies
    # it: the isnotnull(d_max) filter it infers from the distance cut
    # would run the UDF a second time on the query side
    return _rings.asNondeterministic()


def knn_join(
    queries: DataFrame,
    points: DataFrame,
    k: int | None = None,
    res: int = 4,
    ring: int = 1,
    point_key: str = "point_id",
) -> DataFrame:
    """kNN: for each query row (qid, lon, lat[, k]) find the k nearest
    points (point_id, lon, lat) by haversine distance.

    Returns (qid, point_id, rank, dist_m), ties ranked by point_id. If `k`
    is None, the per-row ``k`` column of `queries` is used.

    Plan (W3/W4: ranking window + distance-sorted pruning): one census of
    the points per cell (collected to the driver), then one exact ring
    pass — a query-side UDF sizes each query's ring (>= `ring`) from the
    census so that it holds every point as near as the k-th, the rings
    equi-join the points on cell, candidates farther than the sizing's
    k-th-distance bound are dropped, and a row_number() window keeps
    rank <= k. No escalation and no brute-force tail.
    """
    k_col = F.lit(k) if k is not None else F.col("k")
    q = queries.select(
        "qid",
        F.col("lon").alias("q_lon"),
        F.col("lat").alias("q_lat"),
        k_col.alias("_k"),
    )
    # measured (r8): spreading narrow points LOSES here (0.9 -> 1.5 s at
    # sf1.0) — the ring pass joins on cell and shuffles p regardless
    p = points.select(
        F.col(point_key).alias("point_id"),
        F.col("lon").alias("p_lon"),
        F.col("lat").alias("p_lat"),
        ix.ghcell(F.col("lon"), F.col("lat"), res).alias("cell"),
    )
    rings = _knn_rings_udf(_knn_census(p, res), res, ring)
    q_cells = q.withColumn("_r", rings("q_lon", "q_lat", "_k")).select(
        *q.columns,
        F.explode("_r.cells").alias("cell"),
        F.col("_r.d_max").alias("_d_max"),
    )
    return _knn_rank(q_cells.join(p, "cell", "inner"), F.col("_d_max"))


def _knn_rank(cand: DataFrame, d_max: Column | None = None) -> DataFrame:
    """Rank candidate (query, point) pairs — (qid, q_lon, q_lat, _k) beside
    (point_id, p_lon, p_lat) — by haversine distance, ties by point_id,
    and keep rank <= _k. Returns (qid, point_id, rank, dist_m).

    `d_max`: an upper bound on each query's k-th distance; farther
    candidates cannot rank <= _k and are dropped before the window."""
    w = Window.partitionBy("qid").orderBy(F.col("dist_m").asc(), F.col("point_id"))
    cand = cand.withColumn(
        "dist_m",
        haversine_m(F.col("q_lon"), F.col("q_lat"), F.col("p_lon"), F.col("p_lat")),
    )
    if d_max is not None:
        cand = cand.where(F.col("dist_m") <= d_max)
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.col("_k"))
        .select("qid", "point_id", "rank", "dist_m")
    )


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for each left row, the single right row with the same
    `on` key and the greatest right_ts <= left_ts (direction='backward';
    'forward' = least right_ts >= left_ts).

    Spark lacks a native ASOF JOIN (DuckDB/Pandas have one). Composition:
    union both sides tagged, sort within key by timestamp, propagate the
    last-seen right row with a running window (last_value ignorenulls) —
    one shuffle on the key, no range explosion. Equivalent to
    pd.merge_asof / DuckDB ASOF JOIN (oracle-checked in __spark_entry__).
    """
    lcols = [c for c in left.columns]
    rcols = [c for c in right.columns if c not in (on, right_ts)]
    l_tag = left.select(
        F.col(on).alias("_key"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*[F.col(c) for c in lcols]).alias("_l"),
        F.lit(None).cast(
            right.select(F.struct(*rcols).alias("s")).schema["s"].dataType.simpleString()
        ).alias("_r"),
    )
    r_tag = right.select(
        F.col(on).alias("_key"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(
            left.select(F.struct(*lcols).alias("s")).schema["s"].dataType.simpleString()
        ).alias("_l"),
        F.struct(*[F.col(c) for c in rcols]).alias("_r"),
    )
    both = l_tag.unionByName(r_tag)
    if direction == "backward":
        # right rows sort BEFORE left rows at equal ts (<= semantics)
        w = (
            Window.partitionBy("_key")
            .orderBy(F.col("_ts").asc(), F.col("_side").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
    else:
        w = (
            Window.partitionBy("_key")
            .orderBy(F.col("_ts").desc(), F.col("_side").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
    matched = both.withColumn(
        "_rmatch", F.last(F.col("_r"), ignorenulls=True).over(w)
    ).where(F.col("_side") == 1)
    out = matched.select(
        *[F.col("_l")[c].alias(c) for c in lcols],
        *[F.col("_rmatch")[c].alias(c) for c in rcols],
    )
    return out


def knn_brute_force(
    queries: DataFrame, points: DataFrame, k: int | None = None,
    point_key: str = "point_id",
) -> DataFrame:
    """Oracle twin: exact kNN via cross join (tests / tiny inputs only)."""
    k_col = F.lit(k) if k is not None else F.col("k")
    q = queries.select(
        "qid", F.col("lon").alias("q_lon"), F.col("lat").alias("q_lat"),
        k_col.alias("_k"),
    )
    p = points.select(
        F.col(point_key).alias("point_id"),
        F.col("lon").alias("p_lon"), F.col("lat").alias("p_lat"),
    )
    return _knn_rank(q.crossJoin(p))


def within_radius_join(
    points: DataFrame,
    sites: DataFrame,
    radius_m: float,
    res: int = 4,
    point_key: str = "point_id",
    site_key: str = "site_id",
) -> DataFrame:
    """Distance-band (geofence) join: every (point, site) pair within
    ``radius_m`` great-circle meters — "which events happened near any
    of our locations", the workhorse proximity query.

    Plan (the J3/J4 cell discipline): each site expands to the cell
    k-ring COVERING its radius at ``res`` — the y-span is fixed by the
    radius in meridional degrees, and the x-span is LATITUDE-AWARE
    (zonal degrees per meter grow as 1/cos(lat), so a fixed 3x3 ring
    silently loses pairs beyond ~55 deg; the span uses the cosine at
    the ring's widest edge with a 1.01 safety factor and caps at a full
    wrap near the poles). The cosine only sizes the PRUNING ring —
    candidate completeness needs a conservative bound, never an exact
    transcendental, so oracle determinism is untouched; the exact test
    is the codegen haversine refine. The point side computes ONE cell
    id; candidates come from the broadcast cell equi-join (sites are
    the SMALL side by contract) — at 100 TB the points side streams
    map-only, zero shuffles.

    Returns (point_key, site_key, dist_m) with dist_m floored to whole
    meters (order-free, SQL-replayable away from boundary ties).
    """
    nx, ny = ix.ghcell_nx(res), ix.ghcell_ny(res)
    cell_h_deg = 180.0 / ny
    cell_w_deg = 360.0 / nx
    # meridional: meters per degree latitude is ~constant (min 110574)
    dy_span = int(radius_m / (cell_h_deg * 110574.0) * 1.01) + 1
    s0 = sites.select(
        F.col(site_key),
        F.col("lon").alias("s_lon"),
        F.col("lat").alias("s_lat"),
        ix.ghcell(F.col("lon"), F.col("lat"), res).alias("_c"),
    )
    c = ix.ghcell_decode(F.col("_c"))
    # zonal span at the ring's widest (pole-most) latitude edge; capped
    # at a full wrap so polar sites stay correct (their zone is tiny)
    edge_lat = F.least(
        F.abs(F.col("s_lat")) + F.lit(dy_span * cell_h_deg), F.lit(90.0)
    )
    coslat = F.greatest(F.cos(F.radians(edge_lat)), F.lit(1e-9))
    dx_span = F.least(
        (
            F.lit(radius_m) / (F.lit(cell_w_deg * 111320.0) * coslat)
            * F.lit(1.01)
        ).cast("long")
        + F.lit(1),
        F.lit(nx // 2),
    )
    ring = s0.select(
        site_key,
        "s_lon",
        "s_lat",
        c["x"].alias("_x"),
        c["y"].alias("_y"),
        F.explode(F.sequence(-dx_span, dx_span)).alias("_dx"),
    ).select(
        site_key,
        "s_lon",
        "s_lat",
        "_x",
        "_dx",
        "_y",
        F.explode(
            F.sequence(F.lit(-dy_span), F.lit(dy_span))
        ).alias("_dy"),
    ).withColumn("_ry", F.col("_y") + F.col("_dy"))
    s_ring = ring.where(
        (F.col("_ry") >= 0) & (F.col("_ry") < ny)
    ).select(
        site_key,
        "s_lon",
        "s_lat",
        ix.ghcell_from_xy(
            F.pmod(F.col("_x") + F.col("_dx"), F.lit(nx)), F.col("_ry"), res
        ).alias("cell"),
    ).distinct()  # full-wrap spans revisit cells; dedup the tiny site ring
    p = points.select(
        F.col(point_key),
        F.col("lon").alias("p_lon"),
        F.col("lat").alias("p_lat"),
        ix.ghcell(F.col("lon"), F.col("lat"), res).alias("cell"),
    )
    d = F.floor(
        haversine_m(
            F.col("s_lon"), F.col("s_lat"), F.col("p_lon"), F.col("p_lat")
        )
    ).cast("long")
    return (
        p.join(F.broadcast(s_ring), "cell")
        .withColumn("dist_m", d)
        .where(F.col("dist_m") <= F.lit(int(radius_m)))
        .select(point_key, site_key, "dist_m")
    )

def bbox_overlap_join(
    left: DataFrame,
    right: DataFrame,
    res: int = 4,
    left_key: str = "lid",
    right_key: str = "rid",
) -> DataFrame:
    """All (left, right) pairs of axis-aligned bounding boxes that
    OVERLAP (closed intersection: a.w <= b.e AND b.w <= a.e AND
    a.s <= b.n AND b.s <= a.n) — the extent-vs-extent spatial join
    (viewport queries, footprint conflation, R-tree workloads).

    Inputs carry (key, w, e, s, n) with w <= e (no antimeridian
    crossing) and s <= n.

    Plan — grid partitioning WITHOUT the dedup shuffle: each box
    explodes to every grid cell its extent covers at ``res`` (two
    sequence() explodes, pure Column arithmetic), candidates come from
    the cell equi-join, and each surviving pair is emitted EXACTLY ONCE
    by the reference-point method (SpatialHadoop / Zhang et al.): a
    pair reports only in the cell containing the intersection's
    lower-left corner (max(a.w,b.w), max(a.s,b.s)) — every overlapping
    pair has exactly one such cell, so the O(pairs x cells) duplicate
    stream never exists and the plan needs NO distinct aggregate
    (plan-pinned). Shuffles key on the cell; skew from hot cells takes
    the same salting/AQE treatment as J3.
    """
    def cover(df, key, tag):
        cells = ix.explode_bbox_cells(df, *[F.col(c) for c in "wesn"], res)
        return cells.select(
            F.col(key), *[F.col(c).alias(f"{tag}{c}") for c in "wesn"], "cell"
        )

    lc = cover(left, left_key, "a")
    rc = cover(right, right_key, "b")
    overlap = (
        (F.col("aw") <= F.col("be"))
        & (F.col("bw") <= F.col("ae"))
        & (F.col("as") <= F.col("bn"))
        & (F.col("bs") <= F.col("an"))
    )
    ref_cell = ix.ghcell(
        F.greatest(F.col("aw"), F.col("bw")),
        F.greatest(F.col("as"), F.col("bs")),
        res,
    )
    return (
        lc.join(rc, "cell")
        .where(overlap & (ref_cell == F.col("cell")))
        .select(left_key, right_key)
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    bucket: int,
    left_key: str = "lid",
    right_key: str = "rid",
) -> DataFrame:
    """All (left, right) pairs of CLOSED integer intervals that overlap
    (a.s <= b.e AND b.s <= a.e) — the 1-D extent join (time-range
    conflation, reservation conflicts, interval containment) and the
    temporal analog of bbox_overlap_join.

    Scale shape: each interval explodes onto its covering buckets of
    width ``bucket`` (output linear in interval length / bucket), pairs
    candidate via the bucket equi-join, and the REFERENCE-POINT rule —
    emit only from the bucket holding max(a.s, b.s) — makes every
    overlapping pair appear EXACTLY once with no dedup aggregate (the
    naive bucket join emits one duplicate per shared bucket). Pick
    ``bucket`` ~ the median interval length: shorter wastes explode
    rows, longer inflates per-bucket candidate sets.

    Inputs carry (key, s, e) with s <= e, integer units. Returns
    (left_key, right_key, overlap_start, overlap_end).
    """
    if bucket < 1:
        raise ValueError(f"bucket must be >= 1: {bucket}")

    # exact integer floor division (r8, ADVICE r7): F.floor(col/lit) runs
    # in DOUBLE and mis-buckets endpoints past 2^53 (nanosecond epochs).
    # `div` truncates toward zero, so negative dividends subtract 1 when
    # a remainder exists (true floor, no negation overflow at LONG_MIN).
    # The SAME expression shape is used for the interval covers AND the
    # reference-point test, so exactly-once emission is preserved by
    # construction under any bucketing.
    def _fd(frag: str) -> str:
        b = int(bucket)
        return (
            f"(cast(({frag}) as bigint) div {b}"
            f" + (CASE WHEN ({frag}) < 0 AND ({frag}) % {b} != 0"
            f" THEN -1 ELSE 0 END))"
        )

    def cover(df, key, s, e):
        return df.select(
            F.col(key),
            F.col(s),
            F.col(e),
            F.explode(
                F.sequence(F.expr(_fd(s)), F.expr(_fd(e)))
            ).alias("_b"),
        )

    la = cover(left, left_key, "s", "e").select(
        F.col(left_key),
        F.col("s").alias("_ls"),
        F.col("e").alias("_le"),
        "_b",
    )
    rb = cover(right, right_key, "s", "e").select(
        F.col(right_key),
        F.col("s").alias("_rs"),
        F.col("e").alias("_re"),
        "_b",
    )
    ref = F.greatest(F.col("_ls"), F.col("_rs"))
    return (
        la.join(rb, "_b")
        .where(
            (F.col("_ls") <= F.col("_re"))
            & (F.col("_rs") <= F.col("_le"))
            # reference-point: only the bucket containing the overlap
            # start emits the pair (same exact floor-div as the covers)
            & (F.expr(_fd("greatest(_ls, _rs)")) == F.col("_b"))
        )
        .select(
            F.col(left_key),
            F.col(right_key),
            ref.alias("overlap_start"),
            F.least(F.col("_le"), F.col("_re")).alias("overlap_end"),
        )
    )
