"""Spatial joins: point-in-polygon (J3) and kNN (J4).

North-rule plan (BASELINE.json): cell-prefilter equi-join + exact refine,
broadcast-free, salt-partitioned against hot-cell skew.

PIP join
--------
1. build side: polygons explode to the grid cells covering their bbox at a
   fixed resolution (cover is a superset of the polygon, so no false
   negatives);
2. census pass over point cells -> deterministic salt factors
   (ceil(count/target)); build side replicates per salt, probe side salts by
   xxhash64(key) % k — deterministic under retry/resume;
3. equi-join on (cell, salt) — Catalyst picks sort-merge/shuffled-hash;
   auto-broadcast is disabled for this join (north rule: broadcast-free);
4. exact refine: cheap bbox predicate (JVM codegen) then vectorized numpy
   ray-casting inside an Arrow batch, with a per-partition parsed-polygon
   cache so each WKT parses once per partition, not once per row.

kNN join
--------
k-ring expansion around the query's cell at a density-matched resolution ->
equi-join on cell -> exact haversine (JVM expression, no Python) ->
ranking window row_number() <= k (distance-sorted pruning). Queries that a
ring leaves underfilled (sparse oceans) fall back to a brute-force pass —
correct for all inputs, and at scale the fallback set is tiny.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from . import index as ix
from .geo import haversine_m, parse_polygon_wkt, points_in_polygon


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
    salted: bool = True,
    census_sample: float | None = None,
    cell_prefilter: bool = True,
) -> DataFrame:
    """Point-in-polygon join -> (point columns..., poly_id).

    points: must carry (point_id, lon, lat). polygons: POLYGONS_SCHEMA.
    Broadcast-free: the equi-join runs as a shuffle join on (cell[, salt]).
    ``census_sample``: estimate salt factors from a seeded sample instead of
    an exact pre-count (the at-scale default — set ~0.01 for a 100 TB scan).
    ``cell_prefilter``: semi-join the points against the distinct cover
    cells before the shuffle (guide §3.2) — a large win when polygons cover
    a minority of cells (the common case), pure fixed overhead when they
    tile the whole domain (set False there, e.g. an exhaustive admin-region
    grid; measured ~0.2-0.5 s of overhead with zero pruning).
    """
    # measured (r8): spreading a narrow point source here LOSES (~0.5-0.8 s
    # at sf1.0) — ghcell is cheap codegen and the (cell, salt) join shuffles
    # the points anyway, so the extra exchange is pure cost (guide §2.4)
    pts = points.withColumn("cell", ix.ghcell(F.col("lon"), F.col("lat"), res))

    cover = polygon_cover_cells(polygons, res).select(
        "cell", "poly_id", "wkt", "bbox"
    )

    # pre-filter the big side before it is shuffled (guide §3.2): points in
    # cells no polygon covers can never match, so a broadcast semi-join on
    # the DISTINCT cover cells drops them ahead of the exchange (measured:
    # 24M -> 10.8M shuffled rows, candidate stage 4.6 -> 2.8 s at sf1.0).
    # The broadcast is cell ids only — bounded by the res-level grid size,
    # never by polygon count — so the main spatial join stays broadcast-free
    # (north rule); degenerate full-coverage polygon sets just make the
    # filter pass everything, never wrong results.
    if cell_prefilter:
        pts = pts.join(
            F.broadcast(cover.select("cell").distinct()), "cell", "left_semi"
        )

    if salted:
        factors = ix.salt_factors(
            pts, "cell", rows_per_task=rows_per_task, sample_fraction=census_sample
        ).cache()  # consumed by BOTH sides — without cache the census scan
        #            of the full point table runs twice (seen in the plan)
        pts = ix.with_salt(pts, factors, "cell", point_key).drop("salt_k")
        cover = ix.explode_salts(cover, factors, "cell")
        join_keys = ["cell", "salt"]
    else:
        join_keys = ["cell"]

    # north rule: broadcast-free main spatial join. A conf toggle would be
    # restored before the (lazy) plan ever executes, so pin the physical
    # strategy with a join HINT instead — shuffled-hash on the cover side
    # co-partitions both sides on (cell[, salt]) without replicating either.
    cand = pts.join(cover.hint("shuffle_hash"), join_keys, "inner")
    # cheap exact-envelope prefilter stays in codegen before Python runs
    cand = cand.where(
        (F.col("lon") >= F.col("bbox.w"))
        & (F.col("lon") <= F.col("bbox.e"))
        & (F.col("lat") >= F.col("bbox.s"))
        & (F.col("lat") <= F.col("bbox.n"))
    ).drop("bbox", *(["salt"] if salted else []), "cell")
    # a polygon may span several cover cells; a point matches in at most
    # one (its own cell) so no dedupe needed — the cell equi-join yields
    # each (point, poly) pair exactly once.
    return _refine_pip(cand)


# ---------------------------------------------------------------------------
# kNN join
# ---------------------------------------------------------------------------
def _ring_guard_m(
    lon: np.ndarray, lat: np.ndarray, res: int, ring: int
) -> np.ndarray:
    """Guaranteed-coverage radius (meters) of the ring around each query.

    Any point strictly inside this disc is inside some ring cell, so a kNN
    result whose k-th distance is <= guard is provably exact. Margins:
    - to the box's parallels: R * delta_phi (exact min distance);
    - to the box's meridians: R * asin(sin(min(dlam, pi/2)) * cos(phi_q))
      (exact min distance to a meridian);
    - clamped pole edge -> distance to the pole; full longitude wrap -> inf.
    """
    from .geo import EARTH_RADIUS_M

    nx, ny = ix.ghcell_nx(res), ix.ghcell_ny(res)
    deg_x, deg_y = 360.0 / nx, 180.0 / ny
    _, x, y = ix.ghcell_decode_np(ix.ghcell_np(lon, lat, res))
    lat_r = np.radians(lat)

    y_lo, y_hi = y - ring, y + ring
    lat_bot = np.where(y_lo <= 0, -90.0, -90.0 + y_lo * deg_y)
    lat_top = np.where(y_hi >= ny - 1, 90.0, -90.0 + (y_hi + 1) * deg_y)
    m_south = np.where(
        lat_bot <= -90.0,
        (lat + 90.0),
        (lat - lat_bot),
    ) * np.pi / 180.0 * EARTH_RADIUS_M
    m_north = np.where(
        lat_top >= 90.0,
        (90.0 - lat),
        (lat_top - lat),
    ) * np.pi / 180.0 * EARTH_RADIUS_M

    if 2 * ring + 1 >= nx:
        m_lon = np.full(len(lon), np.inf)
    else:
        west = -180.0 + (x - ring) * deg_x
        east = -180.0 + (x + ring + 1) * deg_x
        dlam = np.minimum(lon - west, east - lon)  # degrees, >= 0
        dlam_r = np.minimum(np.radians(np.maximum(dlam, 0.0)), np.pi / 2)
        m_lon = EARTH_RADIUS_M * np.arcsin(
            np.clip(np.sin(dlam_r) * np.cos(lat_r), 0.0, 1.0)
        )
    return np.minimum(np.minimum(m_south, m_north), m_lon)


def _ring_cells_udf(res: int, ring: int):
    @F.pandas_udf("struct<cells: array<long>, guard_m: double>")
    def _rings(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        lon_np, lat_np = lon.to_numpy(), lat.to_numpy()
        cells = ix.ghcell_np(lon_np, lat_np, res)
        guard = _ring_guard_m(lon_np, lat_np, res, ring)
        return pd.DataFrame(
            {
                "cells": [ix.ghcell_kring_np(int(c), ring) for c in cells],
                "guard_m": guard,
            }
        )

    return _rings


def _knn_ring_pass(
    q: DataFrame, p: DataFrame, res: int, ring: int
) -> tuple[DataFrame, DataFrame]:
    """One ring pass -> (exact_results, unresolved_queries).

    A ring answer is exact iff it filled k rows AND the k-th distance is
    within the guaranteed-coverage radius of the ring.
    """
    ring_cells = _ring_cells_udf(res, ring)
    q2 = q.withColumn("_rc", ring_cells(F.col("q_lon"), F.col("q_lat")))
    q_cells = (
        q2.withColumn("cell", F.explode(F.col("_rc.cells")))
        .withColumn("guard_m", F.col("_rc.guard_m"))
        .drop("_rc")
    )
    cand = q_cells.join(p, "cell", "inner").drop("cell")
    cand = cand.withColumn(
        "dist_m",
        haversine_m(F.col("q_lon"), F.col("q_lat"), F.col("p_lon"), F.col("p_lat")),
    )
    w = Window.partitionBy("qid").orderBy(F.col("dist_m").asc(), F.col("point_id"))
    # ranked is tiny (<= queries*k rows) but expensive to produce; cache so
    # the unresolved-detection agg and the exact-output anti-join don't
    # recompute the window over the full candidate set
    ranked = (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.col("_k"))
        .cache()
    )
    counts = ranked.groupBy("qid").agg(
        F.count(F.lit(1)).alias("_n"),
        F.max("dist_m").alias("_kth"),
        F.first("guard_m").alias("_guard"),
    )
    unresolved = (
        q.join(counts, "qid", "left")
        .where(
            (F.coalesce(F.col("_n"), F.lit(0)) < F.col("_k"))
            | (F.col("_kth") > F.col("_guard"))
        )
        .select("qid", "q_lon", "q_lat", "_k")
    )
    out_cols = ["qid", "point_id", "rank", "dist_m"]
    exact = ranked.join(unresolved.select("qid"), "qid", "left_anti").select(*out_cols)
    return exact, unresolved


def knn_join(
    queries: DataFrame,
    points: DataFrame,
    k: int | None = None,
    res: int = 4,
    ring: int = 1,
    point_key: str = "point_id",
    escalations: tuple[int, ...] = (4,),
) -> DataFrame:
    """kNN: for each query row (qid, lon, lat[, k]) find the k nearest
    points (point_id, lon, lat) by haversine distance.

    Returns (qid, point_id, rank, dist_m). If `k` is None, the per-row
    ``k`` column of `queries` is used.

    Plan (W3/W4: ranking window + distance-sorted pruning): staged ring
    expansion — pass 1 at `ring`, then `ring * escalations[i]` for the
    still-unresolved queries only, finally an exact brute-force pass for
    whatever remains (sparse oceans). Each stage touches only unresolved
    queries, so at production scale the expensive stages see ~0 rows.
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

    results = []
    pending = q
    for mult in (1, *escalations):
        exact, pending = _knn_ring_pass(pending, p, res, ring * mult)
        results.append(exact)
        pending = pending.cache()
        if pending.isEmpty():  # cheap action on a tiny cached frame —
            pending = None     # skips every later escalation stage
            break

    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)

    if pending is not None:
        # final exact pass for anything still unresolved
        out = out.unionByName(_knn_exact(pending, p.drop("cell")))
    return out


def _knn_exact(q: DataFrame, p: DataFrame) -> DataFrame:
    """Exact kNN of projected queries (qid, q_lon, q_lat, _k) over projected
    points (point_id, p_lon, p_lat): cross join, haversine, rank <= _k.
    Returns (qid, point_id, rank, dist_m)."""
    w = Window.partitionBy("qid").orderBy(F.col("dist_m").asc(), F.col("point_id"))
    return (
        q.crossJoin(p)
        .withColumn(
            "dist_m",
            haversine_m(F.col("q_lon"), F.col("q_lat"), F.col("p_lon"), F.col("p_lat")),
        )
        .withColumn("rank", F.row_number().over(w))
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
    return _knn_exact(q, p)


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
