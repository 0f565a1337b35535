"""Geometry primitives: WKT <-> bbox, envelopes, haversine, vectorized PIP.

Reference semantics preserved:
- ``ENVELOPE(w, e, n, s)`` string format with exactly that spacing
  (fgdc.py:115-123, marc.py:99-104 in /root/reference).
- ``POINT(x, y)`` when a MARC 034 box degenerates to a point (w==e and n==s,
  marc.py:106-120).
- union-envelope = (min w, max e, max n, min s) (fgdc.py:110-122).
- WKT validation -> None-on-invalid, never an exception
  (validators.py:26-106).

Everything here is either a native Column expression (JVM-side, codegen'd) or
a numpy kernel meant to run inside Arrow-batched UDFs — no per-row Python.
shapely is not available in this container; point-in-polygon is a vectorized
numpy ray-casting kernel (identical semantics for simple polygons; boundary
points use the even-odd rule). If shapely is importable we use its ufuncs.
"""

from __future__ import annotations

import math
import re

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

try:  # optional fast path; not present in this container
    import shapely  # type: ignore

    HAVE_SHAPELY = True
except Exception:  # pragma: no cover
    shapely = None
    HAVE_SHAPELY = False

EARTH_RADIUS_M = 6371008.8  # mean Earth radius (IUGG)


# ---------------------------------------------------------------------------
# Column-expression builders (pure Catalyst; no Python at runtime)
# ---------------------------------------------------------------------------
def envelope_wkt(w: Column, e: Column, n: Column, s: Column) -> Column:
    """``ENVELOPE(w, e, n, s)`` — exact spacing parity with fgdc.py:115-123."""
    return F.format_string(
        "ENVELOPE(%s, %s, %s, %s)",
        w.cast("string"),
        e.cast("string"),
        n.cast("string"),
        s.cast("string"),
    )


def point_wkt(x: Column, y: Column) -> Column:
    """``POINT(x, y)`` — parity with marc.py:117-118."""
    return F.format_string("POINT(%s, %s)", x.cast("string"), y.cast("string"))


def parse_envelope(col: Column) -> Column:
    """ENVELOPE WKT string -> struct<w,e,n,s: double>; null if not an envelope.

    Pure regexp_extract, so Catalyst can pipeline it inside codegen.
    """
    num = r"(-?\d+\.?\d*)"
    pat = (
        r"^ENVELOPE\(\s*" + num + r"\s*,\s*" + num + r"\s*,\s*"
        + num + r"\s*,\s*" + num + r"\s*\)$"
    )
    w = F.regexp_extract(col, pat, 1)
    e = F.regexp_extract(col, pat, 2)
    n = F.regexp_extract(col, pat, 3)
    s = F.regexp_extract(col, pat, 4)
    out = F.struct(
        w.cast("double").alias("w"),
        e.cast("double").alias("e"),
        n.cast("double").alias("n"),
        s.cast("double").alias("s"),
    )
    return F.when(w != "", out)


def parse_point(col: Column) -> Column:
    """POINT WKT -> struct<lon,lat: double>; null if not a point."""
    num = r"(-?\d+\.?\d*)"
    pat = r"^POINT\(\s*" + num + r"\s+" + num + r"\s*\)$"
    x = F.regexp_extract(col, pat, 1)
    y = F.regexp_extract(col, pat, 2)
    out = F.struct(x.cast("double").alias("lon"), y.cast("double").alias("lat"))
    return F.when(x != "", out)


def geometry_centroid(bbox: Column) -> Column:
    """Envelope midpoint -> struct<lon,lat> (tile/T6 centroid semantics)."""
    return F.struct(
        ((bbox["w"] + bbox["e"]) / F.lit(2.0)).alias("lon"),
        ((bbox["n"] + bbox["s"]) / F.lit(2.0)).alias("lat"),
    )


def haversine_m(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Great-circle distance in meters as a native Column expression.

    Stays inside whole-stage codegen — used by the kNN join's exact-distance
    refine so no Python runs in the hot path.
    """
    rl1, rl2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2.0
    dlon = F.radians(lon2 - lon1) / 2.0
    a = F.sin(dlat) ** 2 + F.cos(rl1) * F.cos(rl2) * F.sin(dlon) ** 2
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(a))


def validated_envelope_wkt(col: Column) -> Column:
    """Engine analog of the ValidateGeoshapeWKT decorator
    (validators.py:26-106): invalid WKT -> NULL, valid passes through.

    Accepts ENVELOPE(w,e,n,s) with w<=e, s<=n, lon/lat in range, and
    POINT(x,y) in range. Anything else -> NULL (reference logs a warning and
    returns None rather than raising).
    """
    env = parse_envelope(col)
    pnt = parse_point(col)
    env_ok = (
        env.isNotNull()
        & (env["w"] <= env["e"])
        & (env["s"] <= env["n"])
        & (env["w"] >= -180) & (env["e"] <= 180)
        & (env["s"] >= -90) & (env["n"] <= 90)
    )
    pnt_ok = (
        pnt.isNotNull()
        & (pnt["lon"] >= -180) & (pnt["lon"] <= 180)
        & (pnt["lat"] >= -90) & (pnt["lat"] <= 90)
    )
    return F.when(env_ok | pnt_ok, col)


# ---------------------------------------------------------------------------
# numpy kernels (for Arrow-batched refine stages)
# ---------------------------------------------------------------------------
def parse_polygon_wkt(wkt: str) -> list[np.ndarray]:
    """POLYGON/MULTIPOLYGON WKT -> list of (n,2) exterior-ring arrays.

    Holes are ignored (synthetic polygons here have none); MULTIPOLYGON
    returns one array per part. Used driver-side (tiny polygon dim) and in
    the PIP refine UDF.
    """
    rings: list[np.ndarray] = []
    for ring_txt in re.findall(r"\(\(([^()]+)\)", wkt):
        pts = []
        for pair in ring_txt.split(","):
            xs = pair.split()
            pts.append((float(xs[0]), float(xs[1])))
        rings.append(np.asarray(pts))
    if not rings and wkt.strip().upper().startswith("POLYGON"):
        inner = re.search(r"\(\s*\(?([^()]+)\)?\s*\)", wkt)
        if inner:
            pts = [
                (float(p.split()[0]), float(p.split()[1]))
                for p in inner.group(1).split(",")
            ]
            rings.append(np.asarray(pts))
    return rings


def points_in_ring(lons: np.ndarray, lats: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray casting: bool mask of points inside `ring`.

    O(n_points * n_vertices) fully in numpy; this is the exact-refine kernel
    after the cell-prefilter equi-join (SURVEY.md J3) — the candidate set per
    batch is small, so the kernel is cache-friendly.
    """
    x_all = np.asarray(lons, dtype=np.float64)
    y_all = np.asarray(lats, dtype=np.float64)
    rx, ry = ring[:, 0], ring[:, 1]
    x1, y1 = rx[None, :], ry[None, :]
    x2 = np.roll(rx, -1)[None, :]
    y2 = np.roll(ry, -1)[None, :]
    # broadcast over (points x edges), chunking points so the float64
    # temporaries stay bounded (~4M cells ≈ 32 MB per temp) for huge
    # candidate batches; a python per-edge loop with errstate entered per
    # edge cost ~40% of the whole refine kernel. over= also ignored: tiny
    # nonzero y2-y1 on near-horizontal edges overflows the divide, and the
    # inf xint compares correctly (crosses is False there anyway).
    out = np.empty(len(x_all), dtype=bool)
    chunk = max(1, 4_000_000 // max(1, len(rx)))
    for s in range(0, len(x_all), chunk):
        x = x_all[s : s + chunk, None]
        y = y_all[s : s + chunk, None]
        crosses = (y1 > y) != (y2 > y)
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            xint = (x2 - x1) * (y - y1) / (y2 - y1) + x1
        hits = crosses & (x < xint)
        out[s : s + chunk] = (hits.sum(axis=1) & 1).astype(bool)
    return out


def points_in_polygon(
    lons: np.ndarray, lats: np.ndarray, rings: list[np.ndarray]
) -> np.ndarray:
    """Point-in-(multi)polygon using the exterior rings (even-odd union)."""
    if HAVE_SHAPELY:  # pragma: no cover - not in this container
        from shapely.geometry import MultiPolygon, Polygon

        geom = MultiPolygon([Polygon(r) for r in rings]) if len(rings) > 1 else Polygon(rings[0])
        return shapely.contains_xy(geom, lons, lats)
    mask = np.zeros(len(lons), dtype=bool)
    for ring in rings:
        mask |= points_in_ring(lons, lats, ring)
    return mask


def haversine_np(
    lon1: np.ndarray, lat1: np.ndarray, lon2: np.ndarray, lat2: np.ndarray
) -> np.ndarray:
    """numpy haversine (meters) — oracle/test twin of haversine_m."""
    lon1, lat1, lon2, lat2 = (np.radians(np.asarray(a, dtype=np.float64)) for a in (lon1, lat1, lon2, lat2))
    a = (
        np.sin((lat2 - lat1) / 2.0) ** 2
        + np.cos(lat1) * np.cos(lat2) * np.sin((lon2 - lon1) / 2.0) ** 2
    )
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(a))


def haversine_scalar(lon1: float, lat1: float, lon2: float, lat2: float) -> float:
    """Pure-python haversine for tiny oracle loops in tests."""
    rl1, rl2 = math.radians(lat1), math.radians(lat2)
    a = (
        math.sin(math.radians(lat2 - lat1) / 2.0) ** 2
        + math.cos(rl1) * math.cos(rl2) * math.sin(math.radians(lon2 - lon1) / 2.0) ** 2
    )
    return 2.0 * EARTH_RADIUS_M * math.asin(math.sqrt(a))


# ---------------------------------------------------------------------------
# vector polygon aggregates (integer shoelace)
# ---------------------------------------------------------------------------

def polygon_shoelace_cols(vertices: Column) -> "dict[str, Column]":
    """Exact shoelace terms for a simple polygon given as an
    array<struct<x:long, y:long>> of INTEGER vertices (scaled coords —
    the layout vector formats actually use, e.g. geobuf/MVT).

    Everything is whole-stage-codegen higher-order functions over the
    vertex array — no UDF, no shuffle — and exact int64 arithmetic:

      area2   = |sum cross_i|            (twice the area; exact)
      cx_num  = sum (x_i + x_j) cross_i  (centroid numerator, exact;
      cy_num  = sum (y_i + y_j) cross_i   centroid = num / (3 * sum))

    with cross_i = x_i*y_j - x_j*y_i over consecutive vertex pairs
    (wrapping). The SIGNED cross sum is kept for the centroid so vertex
    orientation cancels. Keep |coord| <= ~1e6 so the centroid
    numerators stay within exact-double range for the final division.
    """
    n = F.size(vertices)
    idx = F.sequence(F.lit(0), n - 1)

    def _pair(fn):
        return F.transform(
            idx,
            lambda i: fn(
                F.element_at(vertices, i + 1),
                F.element_at(vertices, ((i + 1) % n) + 1),
            ),
        )

    def _ssum(arr):
        return F.aggregate(arr, F.lit(0).cast("long"), lambda a, v: a + v)

    cross = _pair(lambda p, q: p["x"] * q["y"] - q["x"] * p["y"])
    cx_t = _pair(
        lambda p, q: (p["x"] + q["x"])
        * (p["x"] * q["y"] - q["x"] * p["y"])
    )
    cy_t = _pair(
        lambda p, q: (p["y"] + q["y"])
        * (p["x"] * q["y"] - q["x"] * p["y"])
    )
    s = _ssum(cross)
    return {
        "area2": F.abs(s),
        "cross_sum": s,
        "cx_num": _ssum(cx_t),
        "cy_num": _ssum(cy_t),
    }


def polygon_stats(df: DataFrame, vertices_col: str = "vertices") -> DataFrame:
    """Add exact area2 (bigint) and centroid (cx, cy doubles — ONE
    division each of exact-integer operands, bit-identical in DuckDB)."""
    t = polygon_shoelace_cols(F.col(vertices_col))
    den = (F.lit(3).cast("long") * t["cross_sum"]).cast("double")
    return df.select(
        "*",
        t["area2"].alias("area2"),
        (t["cx_num"].cast("double") / den).alias("cx"),
        (t["cy_num"].cast("double") / den).alias("cy"),
    )


def polygon_shoelace_sql(vertices_expr: str) -> str:
    """DuckDB twin: (area2, cx, cy) SELECT-list fragment over a
    LIST(STRUCT(x BIGINT, y BIGINT)) expression (1-indexed lists)."""
    v = vertices_expr
    n = f"len({v})"

    def pair(fn: str) -> str:
        # p = v[i], q = v[(i % n) + 1] for i in 1..n
        return (
            f"list_transform(range(1, {n} + 1), i -> {fn})"
            .replace("PX", f"{v}[i].x")
            .replace("PY", f"{v}[i].y")
            .replace("QX", f"{v}[(i % {n}) + 1].x")
            .replace("QY", f"{v}[(i % {n}) + 1].y")
        )

    cross = "PX*QY - QX*PY"
    s = f"list_sum({pair(cross)})"
    cxn = f"list_sum({pair(f'(PX + QX) * ({cross})')})"
    cyn = f"list_sum({pair(f'(PY + QY) * ({cross})')})"
    return (
        f"abs({s})::BIGINT AS area2, "
        f"CAST({cxn} AS DOUBLE) / CAST(3 * ({s}) AS DOUBLE) AS cx, "
        f"CAST({cyn} AS DOUBLE) / CAST(3 * ({s}) AS DOUBLE) AS cy"
    )


def idw_fill(
    points: DataFrame,
    res: int = 6,
    radius: int = 2,
    lon_col: str = "lon",
    lat_col: str = "lat",
    value_col: str = "value",
) -> DataFrame:
    """Inverse-distance-weighted grid interpolation: aggregate point
    values onto the ghcell grid at ``res``, then estimate every EMPTY
    cell within ``radius`` of data as the IDW mean of its observed
    neighbors — the standard gap-fill for sensor/observation rasters.

    Numerics are oracle-exact by construction: neighbor offsets have
    integer squared distances, the 1/d^2 weights are scaled by
    lcm(d^2) = 4 (radius 2 -> w in {4, 2, 1}), values aggregate as
    decimal(18,2), and the ONLY division is the final num/den — a
    single IEEE op over exact operands, bit-identical in SQL.

    Plan: one exchange to build per-cell sums, one explode of the <= 12
    circle offsets (output linear in observed cells), one exchange to
    regroup on the target cell, an anti-join against observed cells.
    No windows, no Python. Returns (cell, n_contributors, weight_sum,
    idw_value) for filled cells only.
    """
    if radius != 2:
        raise ValueError("idw_fill currently supports radius=2 (w=4/d^2)")
    from .index import ghcell, ghcell_decode, ghcell_from_xy, ghcell_nx, ghcell_ny

    nx, ny = ghcell_nx(res), ghcell_ny(res)
    obs = (
        points.select(
            ghcell(F.col(lon_col), F.col(lat_col), res).alias("cell"),
            F.col(value_col).cast("decimal(18,2)").alias("v"),
        )
        .groupBy("cell")
        .agg(F.sum("v").alias("sv"))
    )
    offsets = [
        (dx, dy, 4 // (dx * dx + dy * dy))
        for dx in range(-radius, radius + 1)
        for dy in range(-radius, radius + 1)
        if 0 < dx * dx + dy * dy <= radius * radius
    ]
    # decode staged through its own projection: struct-field extraction
    # from an EXPRESSION alongside a generator in one select over an
    # aggregate loses the struct's field names (Spark quirk — analysis
    # fails with FIELD_NOT_FOUND col1/col2/col3)
    dec = obs.select(
        "sv",
        ghcell_decode(F.col("cell"))["x"].alias("x"),
        ghcell_decode(F.col("cell"))["y"].alias("y"),
    )
    cand = dec.select(
        "sv",
        F.col("x"),
        F.col("y"),
        F.explode(
            F.expr(
                "array("
                + ",".join(
                    f"named_struct('dx',{dx},'dy',{dy},'w',CAST({w} AS BIGINT))"
                    for dx, dy, w in offsets
                )
                + ")"
            )
        ).alias("o"),
    ).select(
        (F.col("x") + F.col("o.dx")).alias("tx"),
        (F.col("y") + F.col("o.dy")).alias("ty"),
        F.col("o.w").alias("w"),
        "sv",
    ).where(
        (F.col("tx") >= 0) & (F.col("tx") < nx)
        & (F.col("ty") >= 0) & (F.col("ty") < ny)
    )
    tcell = ghcell_from_xy(F.col("tx"), F.col("ty"), res).alias("cell")
    filled = (
        cand.select(tcell, "w", "sv")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_contributors"),
            F.sum("w").alias("weight_sum"),
            F.sum(F.col("sv") * F.col("w")).alias("_num"),
        )
        .join(obs.select("cell"), "cell", "left_anti")
        .select(
            "cell",
            "n_contributors",
            "weight_sum",
            # cast operands to double BEFORE dividing: decimal/long
            # division scale rules differ across engines; the numerator
            # is an exact (order-free) decimal sum, so the double casts
            # are exact and the single IEEE division bit-matches SQL
            (
                F.col("_num").cast("double")
                / F.col("weight_sum").cast("double")
            ).alias("idw_value"),
        )
    )
    return filled


def rasterize_polygon_cells(
    polys: DataFrame,
    res: int = 7,
    id_col: str = "poly_id",
    vertices_col: str = "vertices",
) -> DataFrame:
    """Polygon -> covered grid cells (center-in-polygon, PixelIsArea):
    emit every ghcell at ``res`` whose CENTER lies inside the polygon —
    the vector->raster step of tile materialization.

    EXACT INTEGER end to end: vertices arrive in 512-scaled degree
    space (array<struct<x:long, y:long>>, x = lon*512, y = lat*512);
    cell centers in that space are the integers
    x*180 + 90 - 92160 (lon) and y*180 + 90 - 46080 (lat) at res 7
    (the 512-scale makes 360/nx and 180/ny both the integer 180), and
    the ray cast clears its division by cross-multiplying with the
    known sign of (y_j - y_i) in each crossing branch. No doubles
    anywhere, so the SQL replay is bit-trivial. Strict inequality =
    centers exactly on an edge count as outside (both sides agree).

    Plan: candidate cells are the polygon's bbox cell range (two
    sequence explodes — output linear in covered area), the ray cast
    is a higher-order filter over the (small) vertex array carried
    with each candidate row. Shuffle-free until the caller aggregates.
    Returns (id, cell, cell_x, cell_y).
    """
    if res != 7:
        raise ValueError("rasterize_polygon_cells: 512-scale is exact "
                         "for res=7 only (nx=1024, ny=512)")
    from .index import ghcell_from_xy

    v = F.col(vertices_col)
    xs = F.transform(v, lambda p: p["x"])
    ys = F.transform(v, lambda p: p["y"])
    # bbox in cell coords: scaled unit -> cell is div 180 (positives
    # after the +92160/+46080 shift)
    def _ext(fld, init, fn, shift):
        return F.expr(
            f"(aggregate(transform({vertices_col}, p -> p.{fld}), "
            f"{init}L, (a, b) -> {fn}(a, b)) + {shift}) div 180"
        )

    cx0 = _ext("x", 9223372036854775807, "least", 92160)
    cx1 = _ext("x", -9223372036854775807, "greatest", 92160)
    cy0 = _ext("y", 9223372036854775807, "least", 46080)
    cy1 = _ext("y", -9223372036854775807, "greatest", 46080)
    cand = (
        polys.select(
            F.col(id_col),
            v.alias("_v"),
            F.explode(F.sequence(cx0, cx1)).alias("cell_x"),
            cy0.alias("_cy0"),
            cy1.alias("_cy1"),
        )
        .select(
            F.col(id_col),
            "_v",
            "cell_x",
            F.explode(F.sequence(F.col("_cy0"), F.col("_cy1"))).alias(
                "cell_y"
            ),
        )
    )
    px = F.col("cell_x") * 180 + 90 - 92160   # center lon * 512
    py = F.col("cell_y") * 180 + 90 - 46080   # center lat * 512
    vv = F.col("_v")
    n = F.size(vv)
    crossings = F.size(
        F.filter(
            F.sequence(F.lit(0), n - 1),
            lambda i: _ray_cross(
                F.element_at(vv, i + 1),
                F.element_at(vv, (i + 1) % n + 1),
                px,
                py,
            ),
        )
    )
    inside = crossings % 2 == 1
    cell = ghcell_from_xy(F.col("cell_x"), F.col("cell_y"), res)
    return cand.where(inside).select(
        F.col(id_col), cell.alias("cell"), "cell_x", "cell_y"
    )


def _ray_cross(p, q, px, py):
    """Exact-integer ray-cast crossing test for edge p->q against a
    rightward ray from (px, py): the edge straddles the scan line and
    the intersection lies strictly right of px. The division in
    px < (qx-px_i)(py-yi)/(yj-yi) + xi is cleared by cross-multiplying
    with the branch-known sign of (yj - yi)."""
    yi, yj = p["y"], q["y"]
    xi, xj = p["x"], q["x"]
    straddle = (yi > py) != (yj > py)
    lhs = (px - xi) * (yj - yi)
    rhs = (xj - xi) * (py - yi)
    return straddle & (
        F.when(yj > yi, lhs < rhs).otherwise(lhs > rhs)
    )


def ray_cast_sql(vertices_expr: str, px_expr: str, py_expr: str) -> str:
    """DuckDB twin of the exact-integer ray cast (1-indexed lists)."""
    v, px, py = vertices_expr, px_expr, py_expr

    def fld(i, f):
        return f"{v}[{i}].{f}"

    i1, i2 = "i + 1", f"(i + 1) % len({v}) + 1"
    yi, yj = fld(i1, "y"), fld(i2, "y")
    xi, xj = fld(i1, "x"), fld(i2, "x")
    return (
        f"len(list_filter(range(0, len({v})), i -> "
        f"(({yi} > {py}) <> ({yj} > {py})) AND "
        f"(CASE WHEN {yj} > {yi} "
        f"THEN ({px} - {xi}) * ({yj} - {yi}) < ({xj} - {xi}) * ({py} - {yi}) "
        f"ELSE ({px} - {xi}) * ({yj} - {yi}) > ({xj} - {xi}) * ({py} - {yi}) "
        f"END))) % 2 = 1"
    )


def path_cells(
    od: DataFrame,
    res: int = 6,
    id_col: str = "path_id",
) -> DataFrame:
    """Origin->destination segment -> traversed grid cells, sampled once
    per Chebyshev cell step (DDA): point k of N is the LINEAR lon/lat
    interpolation at fraction k/N, N = the cell-coordinate span. The
    flow-map primitive (which cells does each trip cross). Sampled-DDA
    spec: diagonal corner cells the segment only grazes are not
    emitted — deterministic and SQL-replayable (k/N and the interp are
    the same IEEE ops on both sides), unlike a supercover walk.

    Expects (id, lon0, lat0, lon1, lat1). NARROW until the explode;
    output is linear in path length. Returns (id, step, cell) with one
    row per step (consecutive equal cells dedup to the min step via
    the caller or DISTINCT).
    """
    from .index import ghcell, ghcell_nx, ghcell_ny

    nx, ny = ghcell_nx(res), ghcell_ny(res)
    # unclamped floor, not ghcell_xy: N is the DDA spec's raw cell span
    x0 = F.floor((F.col("lon0") + 180.0) / 360.0 * F.lit(float(nx)))
    x1 = F.floor((F.col("lon1") + 180.0) / 360.0 * F.lit(float(nx)))
    y0 = F.floor((F.col("lat0") + 90.0) / 180.0 * F.lit(float(ny)))
    y1 = F.floor((F.col("lat1") + 90.0) / 180.0 * F.lit(float(ny)))
    nsteps = F.greatest(
        F.abs(x1 - x0), F.abs(y1 - y0), F.lit(0).cast("bigint")
    ).cast("int")
    st = od.select(
        F.col(id_col),
        "lon0",
        "lat0",
        "lon1",
        "lat1",
        nsteps.alias("_n"),
        F.explode(F.sequence(F.lit(0), nsteps)).alias("step"),
    )
    frac = F.when(
        F.col("_n") > 0, F.col("step") / F.col("_n").cast("double")
    ).otherwise(F.lit(0.0))
    lon = F.col("lon0") + (F.col("lon1") - F.col("lon0")) * frac
    lat = F.col("lat0") + (F.col("lat1") - F.col("lat0")) * frac
    return st.select(
        F.col(id_col), "step", ghcell(lon, lat, res).alias("cell")
    )


def clip_polygon_convex(subject, clip):
    """Sutherland-Hodgman: clip ``subject`` (any simple polygon) by the
    CONVEX ``clip`` polygon, both as [(x, y), ...] integer/Fraction
    vertex lists (open rings, counter-clockwise clip). Returns the
    clipped vertex list with EXACT ``fractions.Fraction`` coordinates —
    intersection points of integer-vertex edges are rational, so the
    whole overlay is exact arithmetic, no epsilon anywhere.
    """
    from fractions import Fraction

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    out = [(Fraction(x), Fraction(y)) for x, y in subject]
    n = len(clip)
    for i in range(n):
        a, b = clip[i], clip[(i + 1) % n]
        if not out:
            break
        inp, out = out, []
        for j in range(len(inp)):
            cur, nxt = inp[j], inp[(j + 1) % len(inp)]
            cur_in = cross(a, b, cur) >= 0
            nxt_in = cross(a, b, nxt) >= 0
            if cur_in:
                out.append(cur)
            if cur_in != nxt_in:
                # exact rational intersection of segment cur->nxt with
                # the infinite line a->b
                dx1, dy1 = nxt[0] - cur[0], nxt[1] - cur[1]
                dx2, dy2 = b[0] - a[0], b[1] - a[1]
                den = dx1 * dy2 - dy1 * dx2
                t = Fraction(
                    (a[0] - cur[0]) * dy2 - (a[1] - cur[1]) * dx2, den
                )
                out.append((cur[0] + t * dx1, cur[1] + t * dy1))
    return out


def shoelace_area2_fraction(verts):
    """Exact 2x signed area of a Fraction-vertex polygon."""
    from fractions import Fraction

    s = Fraction(0)
    n = len(verts)
    for i in range(n):
        x1, y1 = verts[i]
        x2, y2 = verts[(i + 1) % n]
        s += x1 * y2 - x2 * y1
    return s


def polygon_intersection_area(
    pairs: DataFrame,
    left_key: str = "lid",
    right_key: str = "rid",
    subject_col: str = "subject",
    clip_col: str = "clip",
) -> DataFrame:
    """Exact polygon-overlay area for candidate pairs (typically from
    bbox_overlap_join): clip the subject polygon by the CONVEX clip
    polygon with Sutherland-Hodgman over exact rationals (integer
    vertices -> Fraction intersection points -> Fraction shoelace), and
    emit |area2| as a double via Python's correctly-rounded
    float(Fraction) — deterministic bit-for-bit, no epsilon, no
    floating clipping drift.

    Runs in Arrow-batched mapInPandas (pure-python exact arithmetic is
    the point; per-pair cost is O(|subject| * |clip|)); at scale the
    bbox join bounds the candidate pairs and this stage is
    embarrassingly parallel. Columns ``subject``/``clip`` are
    array<struct<x:long, y:long>> open rings (clip counter-clockwise).
    Returns (left_key, right_key, n_vertices, inter_area2).
    """
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField(left_key, T.LongType()),
            T.StructField(right_key, T.LongType()),
            T.StructField("n_vertices", T.IntegerType()),
            T.StructField("inter_area2", T.DoubleType()),
        ]
    )

    def _run(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                subj = [(int(v["x"]), int(v["y"]))
                        for v in getattr(r, subject_col)]
                clp = [(int(v["x"]), int(v["y"]))
                       for v in getattr(r, clip_col)]
                out = clip_polygon_convex(subj, clp)
                a2 = abs(shoelace_area2_fraction(out)) if out else 0
                rows.append(
                    (
                        int(getattr(r, left_key)),
                        int(getattr(r, right_key)),
                        len(out),
                        float(a2),
                    )
                )
            yield pd.DataFrame(
                rows, columns=[left_key, right_key, "n_vertices",
                               "inter_area2"]
            )

    cols = [left_key, right_key, subject_col, clip_col]
    return pairs.select(*cols).mapInPandas(_run, schema)


def convex_hull_monotone(pts):
    """Andrew's monotone chain over integer (x, y) tuples: returns the
    hull vertices CCW, STRICT turns (collinear boundary points dropped)
    — exact int64 cross products, no floats."""
    pts = sorted(set(pts))
    if len(pts) <= 2:
        return pts

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    lower = []
    for p in pts:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    upper = []
    for p in reversed(pts):
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    return lower[:-1] + upper[:-1]


def group_convex_hulls(
    points: DataFrame,
    group_col: str = "group_id",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Per-group convex hull over integer coordinates: Arrow-batched
    applyInPandas running the exact-integer monotone chain per group
    (hulls are tiny; the heavy part is the shuffle on group, which any
    per-group reduction pays). Returns (group, n_points, n_hull,
    hull_area2) — area2 = |shoelace| of the hull, exact int64.

    Cross-checked against a structurally different gift-wrapping
    implementation (oracle_stage.stage_hulls); both use STRICT turns so
    collinear boundary points never make the vertex count ambiguous.
    """
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField(group_col, T.LongType()),
            T.StructField("n_points", T.LongType()),
            T.StructField("n_hull", T.IntegerType()),
            T.StructField("hull_area2", T.LongType()),
        ]
    )

    def _one(pdf: pd.DataFrame) -> pd.DataFrame:
        g = int(pdf[group_col].iloc[0])
        pts = list(zip(pdf[x_col].astype(int), pdf[y_col].astype(int)))
        hull = convex_hull_monotone(pts)
        a2 = 0
        n = len(hull)
        if n >= 3:
            for i in range(n):
                x1, y1 = hull[i]
                x2, y2 = hull[(i + 1) % n]
                a2 += x1 * y2 - x2 * y1
        return pd.DataFrame(
            [(g, len(pts), n, abs(a2))],
            columns=[group_col, "n_points", "n_hull", "hull_area2"],
        )

    return points.select(group_col, x_col, y_col).groupBy(
        group_col
    ).applyInPandas(_one, schema)
