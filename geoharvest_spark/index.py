"""Cell indexing: hierarchical grid cells (H3-role) + genuine S2 cell ids.

North-rule requirement (BASELINE.json): assign H3 (res 5-9) and S2 cell
indexes per record with a broadcast-free, salt-partitioned shuffle for
hot-cell skew.

H3 note: the engine never calls the `h3` library. Its hexagon-role index
is ``ghcell`` — a deterministic hierarchical aperture-4 lat/lon grid with
the same API surface (point->cell, parent, k-ring, resolution 0..15).
ghcell is intentionally expressible as pure integer arithmetic so (a) it
runs entirely JVM-side inside whole-stage codegen (no Python in the hot
path at 100 TB) and (b) the DuckDB oracle can recompute it in ANSI SQL
to check query results.

S2: a faithful pure-numpy implementation of the public S2 cell-id scheme
(quadratic ST projection + Hilbert curve position, level 30 leaf ids), per
the open-source s2geometry algorithm description. Used for tile ids and
verified by geometric invariants in tests.

ghcell layout (res r in 0..15):
    nx = 8 * 2^r  columns over lon [-180, 180)
    ny = 4 * 2^r  rows    over lat [-90, 90]
    cell = r * 2^50 + x * 2^25 + y        (fits int64; x < 2^22, y < 2^21)

This module is the only one that knows that layout: other modules go
through ghcell / ghcell_xy / ghcell_from_xy / ghcell_decode /
ghcell_center / explode_bbox_cells (and the numpy twins). The SQL text
twins (ghcell_sql and the driver's oracle SQL) stay independent on
purpose: they are the references the Column code is checked against.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

GHCELL_RES_BITS = 2**50
GHCELL_X_BITS = 2**25


# ---------------------------------------------------------------------------
# ghcell — Column-expression implementation (JVM-side, oracle-expressible)
# ---------------------------------------------------------------------------
def ghcell_nx(res: int) -> int:
    return 8 << res


def ghcell_ny(res: int) -> int:
    return 4 << res


def ghcell_xy(lon: Column, lat: Column, res: int) -> tuple[Column, Column]:
    """Point -> clamped long grid coordinates (x, y) at resolution `res`.

    Out-of-range inputs clamp to the edge column/row, so lon=180 lands in
    the last column and lat=90 in the top row."""
    nx, ny = ghcell_nx(res), ghcell_ny(res)
    x = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(nx)))
    y = F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(ny)))
    return (
        F.least(F.greatest(x, F.lit(0)), F.lit(nx - 1)).cast("long"),
        F.least(F.greatest(y, F.lit(0)), F.lit(ny - 1)).cast("long"),
    )


def ghcell_from_xy(x: Column, y: Column, res: int) -> Column:
    """Grid coordinates (x, y) at `res` -> ghcell id (no range check)."""
    return (
        F.lit(res).cast("long") * F.lit(GHCELL_RES_BITS)
        + x.cast("long") * F.lit(GHCELL_X_BITS)
        + y.cast("long")
    )


def ghcell(lon: Column, lat: Column, res: int) -> Column:
    """Point -> ghcell id at resolution `res` as a BIGINT Column.

    Pure integer arithmetic; identical SQL runs on DuckDB (see
    __spark_entry__.oracle_sql). Both axes clamp to the grid, so lon=180
    lands in the last column and lat=90 in the top row.
    """
    x, y = ghcell_xy(lon, lat, res)
    return ghcell_from_xy(x, y, res)


def ghcell_sql(lon_expr: str, lat_expr: str, res: int) -> str:
    """The same ghcell computation as an ANSI-SQL text fragment (DuckDB oracle)."""
    nx, ny = ghcell_nx(res), ghcell_ny(res)
    x = (
        f"least(greatest(cast(floor((({lon_expr}) + 180.0) / 360.0 * {nx}.0) "
        f"as bigint), 0), {nx - 1})"
    )
    y = (
        f"least(greatest(cast(floor((({lat_expr}) + 90.0) / 180.0 * {ny}.0) "
        f"as bigint), 0), {ny - 1})"
    )
    return f"(cast({res} as bigint) * {GHCELL_RES_BITS} + {x} * {GHCELL_X_BITS} + {y})"


def ghcell_decode(cell: Column) -> Column:
    """cell id -> struct<res:int, x:long, y:long> (for parent/kring in SQL)."""
    res = (cell / F.lit(GHCELL_RES_BITS)).cast("int")
    rem = cell % F.lit(GHCELL_RES_BITS)
    return F.struct(
        res.alias("res"),
        (rem / F.lit(GHCELL_X_BITS)).cast("long").alias("x"),
        (rem % F.lit(GHCELL_X_BITS)).cast("long").alias("y"),
    )


def ghcell_parent(cell: Column, parent_res: int, child_res: int) -> Column:
    """Parent cell at coarser resolution (aperture-4: x>>k, y>>k)."""
    k = child_res - parent_res
    d = ghcell_decode(cell)
    return ghcell_from_xy(
        F.floor(d["x"] / F.lit(2**k)), F.floor(d["y"] / F.lit(2**k)), parent_res
    )


def ghcell_center(cell: Column, res: int) -> tuple[Column, Column]:
    """Cell id at `res` -> (lon, lat) of its center as double Columns.

    The step 45/2^res is an exact binary double, so ``(x + 0.5) * step -
    180`` is exact and bit-identical to ghcell_center_np and to SQL."""
    d = ghcell_decode(cell)
    step_x = 360.0 / ghcell_nx(res)
    step_y = 180.0 / ghcell_ny(res)
    return (
        (d["x"] + F.lit(0.5)) * F.lit(step_x) - F.lit(180.0),
        (d["y"] + F.lit(0.5)) * F.lit(step_y) - F.lit(90.0),
    )


def explode_bbox_cells(
    df: DataFrame, w: Column, e: Column, s: Column, n: Column, res: int
) -> DataFrame:
    """One row per ghcell at `res` that the box [w, e] x [s, n] covers
    (corners clamped to the grid), as a new ``cell`` column. Two
    sequence() explodes, so the cover stays JVM-side. A box with w > e
    (antimeridian crossing) or s > n raises, as sequence() would count
    down over the wrong cells; a null corner gives no cells."""
    x0, y0 = ghcell_xy(w, s, res)
    x1, y1 = ghcell_xy(e, n, res)
    x1 = F.when((w > e) | (s > n), F.raise_error(F.lit(
        "bbox with w > e or s > n (antimeridian-crossing or inverted)"
    ))).otherwise(x1)
    return (
        df.withColumn("_x", F.explode(F.sequence(x0, x1)))
        .withColumn("_y", F.explode(F.sequence(y0, y1)))
        .withColumn("cell", ghcell_from_xy(F.col("_x"), F.col("_y"), res))
        .drop("_x", "_y")
    )


def ghcell_xy_np(
    lon: np.ndarray, lat: np.ndarray, res: int
) -> tuple[np.ndarray, np.ndarray]:
    """numpy twin of ghcell_xy: points -> clamped int64 (x, y) at `res`."""
    nx, ny = ghcell_nx(res), ghcell_ny(res)
    x = np.clip(np.floor((np.asarray(lon) + 180.0) / 360.0 * nx).astype(np.int64), 0, nx - 1)
    y = np.clip(np.floor((np.asarray(lat) + 90.0) / 180.0 * ny).astype(np.int64), 0, ny - 1)
    return x, y


def ghcell_from_xy_np(x, y, res: int) -> np.ndarray:
    """numpy twin of ghcell_from_xy: grid coordinates -> ghcell ids."""
    return res * GHCELL_RES_BITS + np.asarray(x, dtype=np.int64) * GHCELL_X_BITS + y


def ghcell_np(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """numpy twin of ghcell() for oracles/tests."""
    return ghcell_from_xy_np(*ghcell_xy_np(lon, lat, res), res)


def ghcell_decode_np(cells) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """numpy twin of ghcell_decode: cell ids -> (res, x, y) int64 arrays."""
    cells = np.asarray(cells, dtype=np.int64)
    rem = cells % GHCELL_RES_BITS
    return cells // GHCELL_RES_BITS, rem // GHCELL_X_BITS, rem % GHCELL_X_BITS


def ghcell_ring_axes_np(
    x: int, y: int, k: int, res: int
) -> tuple[np.ndarray, np.ndarray]:
    """Columns and rows of the cells within Chebyshev distance k of (x, y)
    at `res`: x wraps around the antimeridian (every column once when the
    ring is wider than the grid), y clamps at the poles."""
    nx, ny = ghcell_nx(res), ghcell_ny(res)
    xs = np.arange(nx) if 2 * k + 1 >= nx else (x + np.arange(-k, k + 1)) % nx
    return xs, np.arange(max(y - k, 0), min(y + k, ny - 1) + 1)


def ghcell_kring_np(cell: int, k: int) -> list[int]:
    """All cells within Chebyshev distance k (x wraps around the antimeridian,
    y clamps at the poles), sorted."""
    res, x, y = (int(v) for v in ghcell_decode_np(cell))
    xs, ys = ghcell_ring_axes_np(x, y, k, res)
    return sorted(ghcell_from_xy_np(xs[:, None], ys[None, :], res).ravel().tolist())


def ghcell_center_np(cells: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Cell id -> (lon, lat) center."""
    res, x, y = ghcell_decode_np(cells)
    nx = (8 << res).astype(np.float64)
    ny = (4 << res).astype(np.float64)
    lon = (x + 0.5) / nx * 360.0 - 180.0
    lat = (y + 0.5) / ny * 180.0 - 90.0
    return lon, lat


# ---------------------------------------------------------------------------
# S2 cell ids — pure numpy, public algorithm (quadratic projection + Hilbert)
# ---------------------------------------------------------------------------
_S2_LOOKUP_BITS = 4
_S2_SWAP = 1
_S2_INVERT = 2
_S2_MAX_LEVEL = 30
_S2_POS_TO_IJ = np.array(
    [[0, 1, 3, 2], [0, 2, 3, 1], [3, 2, 0, 1], [3, 1, 0, 2]], dtype=np.int64
)
_S2_POS_TO_ORIENT = np.array([_S2_SWAP, 0, 0, _S2_INVERT | _S2_SWAP], dtype=np.int64)
_S2_LOOKUP_POS = np.zeros(1 << (2 * _S2_LOOKUP_BITS + 2), dtype=np.int64)


def _s2_init_lookup(level: int, i: int, j: int, orig: int, pos: int, orient: int) -> None:
    if level == _S2_LOOKUP_BITS:
        ij = (i << _S2_LOOKUP_BITS) + j
        _S2_LOOKUP_POS[(ij << 2) + orig] = (pos << 2) + orient
        return
    level += 1
    i <<= 1
    j <<= 1
    pos <<= 2
    r = _S2_POS_TO_IJ[orient]
    for idx in range(4):
        _s2_init_lookup(
            level,
            i + (int(r[idx]) >> 1),
            j + (int(r[idx]) & 1),
            orig,
            pos + idx,
            orient ^ int(_S2_POS_TO_ORIENT[idx]),
        )


for _o in range(4):
    _s2_init_lookup(0, 0, 0, _o, 0, _o)


def s2_cell_np(lon: np.ndarray, lat: np.ndarray, level: int = 30) -> np.ndarray:
    """(lon, lat) degrees -> S2 cell id at `level` as uint64-in-int64.

    Vectorized end-to-end: xyz -> face/uv -> st (quadratic projection) ->
    ij -> Hilbert position via the 4-bit lookup table, then parent-truncate
    to `level`.
    """
    lon_r = np.radians(np.asarray(lon, dtype=np.float64))
    lat_r = np.radians(np.asarray(lat, dtype=np.float64))
    x = np.cos(lat_r) * np.cos(lon_r)
    y = np.cos(lat_r) * np.sin(lon_r)
    z = np.sin(lat_r)

    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(ax >= ay, np.where(ax >= az, 0, 2), np.where(ay >= az, 1, 2))
    comp = np.choose(face, [x, y, z])
    face = np.where(comp < 0, face + 3, face).astype(np.int64)

    u = np.empty_like(x)
    v = np.empty_like(x)
    m = face == 0
    u[m], v[m] = y[m] / x[m], z[m] / x[m]
    m = face == 1
    u[m], v[m] = -x[m] / y[m], z[m] / y[m]
    m = face == 2
    u[m], v[m] = -x[m] / z[m], -y[m] / z[m]
    m = face == 3
    u[m], v[m] = z[m] / x[m], y[m] / x[m]
    m = face == 4
    u[m], v[m] = z[m] / y[m], -x[m] / y[m]
    m = face == 5
    u[m], v[m] = -y[m] / z[m], -x[m] / z[m]

    def _st(a: np.ndarray) -> np.ndarray:  # quadratic projection
        with np.errstate(invalid="ignore"):
            return np.where(
                a >= 0,
                0.5 * np.sqrt(np.abs(1.0 + 3.0 * a)),
                1.0 - 0.5 * np.sqrt(np.abs(1.0 - 3.0 * a)),
            )

    smax = (1 << _S2_MAX_LEVEL) - 1
    i = np.clip((_st(u) * (1 << _S2_MAX_LEVEL)).astype(np.int64), 0, smax)
    j = np.clip((_st(v) * (1 << _S2_MAX_LEVEL)).astype(np.int64), 0, smax)

    n = face.astype(np.uint64) << np.uint64(60)
    bits = (face & _S2_SWAP).astype(np.int64)
    mask = (1 << _S2_LOOKUP_BITS) - 1
    for k in range(7, -1, -1):
        bits += ((i >> (k * _S2_LOOKUP_BITS)) & mask) << (_S2_LOOKUP_BITS + 2)
        bits += ((j >> (k * _S2_LOOKUP_BITS)) & mask) << 2
        bits = _S2_LOOKUP_POS[bits]
        n |= (bits >> np.int64(2)).astype(np.uint64) << np.uint64(k * 2 * _S2_LOOKUP_BITS)
        bits &= _S2_SWAP | _S2_INVERT
    leaf = n * np.uint64(2) + np.uint64(1)
    if level >= _S2_MAX_LEVEL:
        return leaf.view(np.int64)
    lsb = np.uint64(1) << np.uint64(2 * (_S2_MAX_LEVEL - level))
    parent = (leaf & (~(lsb - np.uint64(1)))) | lsb
    return parent.view(np.int64)


def s2_level_np(cells: np.ndarray) -> np.ndarray:
    """Level of each S2 cell id (from the position of the lowest set bit)."""
    c = np.asarray(cells).view(np.uint64)
    lsb = c & (~c + np.uint64(1))
    lvl = _S2_MAX_LEVEL - (np.log2(lsb.astype(np.float64)) / 2.0)
    return np.round(lvl).astype(np.int64)


def s2_cell_udf(lon: Column, lat: Column, level: int = 12) -> Column:
    """Arrow-batched pandas UDF wrapping s2_cell_np (binary->long column)."""

    @F.pandas_udf("long")
    def _s2(lon_s: pd.Series, lat_s: pd.Series) -> pd.Series:
        return pd.Series(s2_cell_np(lon_s.to_numpy(), lat_s.to_numpy(), level))

    return _s2(lon, lat)


# ---------------------------------------------------------------------------
# Hot-cell salting (north rule: broadcast-free, salt-partitioned shuffle)
# ---------------------------------------------------------------------------
def salt_factors(
    df: DataFrame,
    cell_col: str = "cell",
    rows_per_task: int = 100_000,
) -> DataFrame:
    """Census pass: per-cell row counts -> salt factor k = ceil(count/target).

    Deterministic (no RNG in the salt itself): the probe side later computes
    ``salt = pmod(xxhash64(row_key), k_cell)`` so a resumed/retried partition
    produces identical assignments (SURVEY.md §7 hard-part #3). Returns
    DataFrame(cell, salt_k), one row per distinct cell: at most 32 * 4^res
    rows at resolution res (32,768 at res 5), whatever the row count.
    """
    return df.groupBy(cell_col).agg(
        F.ceil(F.count(F.lit(1)) / F.lit(rows_per_task))
        .cast("int")
        .alias("salt_k")
    )


def with_salt(
    df: DataFrame,
    factors: DataFrame,
    cell_col: str = "cell",
    key_col: str = "url",
) -> DataFrame:
    """Probe side: attach deterministic salt in [0, salt_k) per row. An
    inner join: rows whose cell is not in ``factors`` drop out."""
    return df.join(factors, cell_col).withColumn(
        "salt", F.pmod(F.xxhash64(F.col(key_col)), F.col("salt_k")).cast("int")
    )


def explode_salts(
    df: DataFrame, factors: DataFrame, cell_col: str = "cell"
) -> DataFrame:
    """Build side: replicate each row salt_k times with salt = 0..salt_k-1 so
    the (cell, salt) equi-join co-partitions without broadcasting. An
    inner join: rows whose cell is not in ``factors`` drop out."""
    return (
        df.join(factors, cell_col)
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.col("salt_k") - 1)))
        .withColumn("salt", F.col("salt").cast("int"))
        .drop("salt_k")
    )


# ---------------------------------------------------------------------------
# geohash — the public base-32 cell encoding (interoperable with ES/redis/
# postgis geohashes; external conformance pinned on the classic
# (57.64911, 10.40744) -> 'u4pruydqqvj' example in tests)
# ---------------------------------------------------------------------------
GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_bits(precision: int) -> tuple[int, int, int]:
    n = 5 * precision
    return n, (n + 1) // 2, n // 2  # total, lon bits, lat bits


def geohash(lon: Column, lat: Column, precision: int = 8) -> Column:
    """Point -> geohash string, all JVM codegen (no UDF): quantize each
    axis to its bit budget, interleave (lon takes the even bit
    positions from the MSB — the public convention), then look up each
    5-bit group in the base-32 alphabet. The interleave is a sum of
    shift/and terms and the chars are substring lookups, so the whole
    expression inlines into whole-stage codegen and the SAME arithmetic
    runs in DuckDB (geohash_sql)."""
    n, nlon, nlat = _geohash_bits(precision)
    x = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(1 << nlon)))
    y = F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(1 << nlat)))
    x = F.least(F.greatest(x, F.lit(0)), F.lit((1 << nlon) - 1)).cast("long")
    y = F.least(F.greatest(y, F.lit(0)), F.lit((1 << nlat) - 1)).cast("long")
    v = F.lit(0).cast("long")
    for i in range(nlon):  # lon bit (nlon-1-i) -> output bit (n-1-2i)
        v = v + F.shiftleft(
            F.shiftright(x, nlon - 1 - i).bitwiseAND(F.lit(1)),
            n - 1 - 2 * i,
        )
    for i in range(nlat):  # lat bit (nlat-1-i) -> output bit (n-2-2i)
        v = v + F.shiftleft(
            F.shiftright(y, nlat - 1 - i).bitwiseAND(F.lit(1)),
            n - 2 - 2 * i,
        )
    chars = [
        F.substring(
            F.lit(GEOHASH_ALPHABET),
            (
                F.shiftright(v, n - 5 * (j + 1)).bitwiseAND(F.lit(31)) + 1
            ).cast("int"),
            1,
        )
        for j in range(precision)
    ]
    return F.concat(*chars)


def geohash_sql(lon_expr: str, lat_expr: str, precision: int = 8) -> str:
    """The identical geohash computation as an ANSI-SQL fragment."""
    n, nlon, nlat = _geohash_bits(precision)
    # inputs forced to DOUBLE: a DECIMAL-typed lon/lat column would
    # otherwise propagate DECIMAL(18) through the whole interleave and
    # overflow on the high-bit weights
    x = (
        f"least(greatest(cast(floor((cast({lon_expr} AS DOUBLE) + 180.0) "
        f"/ 360.0 * {1 << nlon}.0) AS BIGINT), 0), {(1 << nlon) - 1})"
    )
    y = (
        f"least(greatest(cast(floor((cast({lat_expr} AS DOUBLE) + 90.0) "
        f"/ 180.0 * {1 << nlat}.0) AS BIGINT), 0), {(1 << nlat) - 1})"
    )
    # explicit ::BIGINT on the weights: DuckDB otherwise promotes the
    # mixed constant arithmetic to DECIMAL(18), which overflows summing
    # high-bit terms (the CLAUDE.md power-of-two-literal trap family)
    terms = [
        f"(({x} // {1 << (nlon - 1 - i)}) % 2) * "
        f"{1 << (n - 1 - 2 * i)}::BIGINT"
        for i in range(nlon)
    ] + [
        f"(({y} // {1 << (nlat - 1 - i)}) % 2) * "
        f"{1 << (n - 2 - 2 * i)}::BIGINT"
        for i in range(nlat)
    ]
    v = "(" + " + ".join(terms) + ")"
    chars = [
        f"substr('{GEOHASH_ALPHABET}', "
        f"cast(({v} // {1 << (n - 5 * (j + 1))}) % 32 AS INT) + 1, 1)"
        for j in range(precision)
    ]
    return " || ".join(chars)


def geohash_np(
    lon: np.ndarray, lat: np.ndarray, precision: int = 8
) -> np.ndarray:
    """numpy twin for tests/oracles."""
    n, nlon, nlat = _geohash_bits(precision)
    x = np.clip(
        np.floor((np.asarray(lon) + 180.0) / 360.0 * (1 << nlon)).astype(
            np.int64
        ),
        0,
        (1 << nlon) - 1,
    )
    y = np.clip(
        np.floor((np.asarray(lat) + 90.0) / 180.0 * (1 << nlat)).astype(
            np.int64
        ),
        0,
        (1 << nlat) - 1,
    )
    v = np.zeros_like(x)
    for i in range(nlon):
        v += ((x >> (nlon - 1 - i)) & 1) << (n - 1 - 2 * i)
    for i in range(nlat):
        v += ((y >> (nlat - 1 - i)) & 1) << (n - 2 - 2 * i)
    out = []
    for val in v.tolist():
        out.append(
            "".join(
                GEOHASH_ALPHABET[(val >> (n - 5 * (j + 1))) & 31]
                for j in range(precision)
            )
        )
    return np.array(out)


# ---------------------------------------------------------------------------
# Z-order (Morton) spatial layout keys
# ---------------------------------------------------------------------------
# At 100 TB the scan-pruning story is file LAYOUT, not just partitioning:
# parquet min/max footer stats prune row groups only if rows near in space
# are near in file order. A Morton key linearizes the 2-D cell grid so one
# repartitionByRange + sortWithinPartitions write yields files whose zkey
# ranges are DISJOINT (asserted in tests) — any spatial bbox becomes a few
# zkey intervals and the scan skips every other file. Pure codegen bitwise
# ops (the classic magic-number bit spread), DuckDB-replayable via an
# INDEPENDENT bit-by-bit formulation (morton_sql).

_MORTON_SPREAD = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


def _spread_bits16(v: Column) -> Column:
    """Spread a 16-bit value's bits to even positions of a 32-bit word."""
    v = v.cast("long").bitwiseAND(F.lit(0xFFFF))
    for shift, mask in _MORTON_SPREAD:
        v = v.bitwiseOR(F.shiftleft(v, shift)).bitwiseAND(F.lit(mask))
    return v


def morton_key(x: Column, y: Column) -> Column:
    """Interleave two 16-bit cell coordinates into a Z-order key
    (x in even bits, y in odd bits; key < 2^32). Whole-stage codegen."""
    return _spread_bits16(x).bitwiseOR(
        F.shiftleft(_spread_bits16(y), 1)
    ).cast("long")


def zorder_key(lon: Column, lat: Column, res: int = 12) -> Column:
    """Point -> Z-order layout key over the ghcell grid at `res`.

    res <= 13 so x (< 8*2^res) and y fit in 16 bits. The key orders the
    SAME cells ghcell addresses — zkey is a layout permutation of the
    grid, not a new index."""
    if not 0 <= res <= 13:
        raise ValueError(f"zorder res must be in [0, 13], got {res}")
    return morton_key(*ghcell_xy(lon, lat, res))


def morton_sql(x_expr: str, y_expr: str) -> str:
    """DuckDB twin as an INDEPENDENT algorithm: bit-by-bit interleave via
    list_transform/list_sum instead of the magic-number spread — a
    transposed constant or mask slip in either side breaks equality."""
    return (
        f"list_sum(list_transform(range(16), k -> "
        f"((({x_expr}) >> k) & 1) * (1::BIGINT << (2 * k)) + "
        f"((({y_expr}) >> k) & 1) * (1::BIGINT << (2 * k + 1))))"
    )


def morton_np(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """numpy reference twin (bit-by-bit, independent of the Column path)."""
    x = np.asarray(x, dtype=np.int64)
    y = np.asarray(y, dtype=np.int64)
    out = np.zeros_like(x)
    for k in range(16):
        out |= ((x >> k) & 1) << (2 * k)
        out |= ((y >> k) & 1) << (2 * k + 1)
    return out


def zorder_layout(
    df: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    res: int = 12,
    partitions: int = 32,
    key_col: str = "zkey",
) -> DataFrame:
    """Spatially-clustered layout: add the Z-order key, range-partition
    on it and sort within partitions. Writing this frame produces files
    with non-overlapping zkey ranges (pinned in test_index), which is
    what turns parquet footer min/max stats into real spatial pruning."""
    out = df.withColumn(key_col, zorder_key(F.col(lon), F.col(lat), res))
    return out.repartitionByRange(partitions, key_col).sortWithinPartitions(
        key_col
    )


def cell_coords(lon: float, lat: float, res: int) -> tuple[int, int]:
    """Driver-side twin of zorder_key's lon/lat -> (x, y) cell transform
    (same floor + clamp arithmetic, so plan-time range math and row-time
    keys agree bit-for-bit)."""
    nx, ny = ghcell_nx(res), ghcell_ny(res)
    import math

    x = int(math.floor((lon + 180.0) / 360.0 * float(nx)))
    y = int(math.floor((lat + 90.0) / 180.0 * float(ny)))
    return (min(max(x, 0), nx - 1), min(max(y, 0), ny - 1))


def zrange_decompose(
    x0: int, x1: int, y0: int, y1: int, max_ranges: int = 64
) -> list:
    """Decompose a cell-space bbox (inclusive coords, 16-bit/dim) into
    maximal Z-order key ranges — the classic quadtree walk: a quadrant
    fully inside the box emits one aligned [z, z + 4^level) range,
    a disjoint quadrant is skipped, a straddling quadrant recurses.
    Adjacent ranges are merged; if still over ``max_ranges``, the
    smallest-GAP neighbors merge first — the result stays a SUPERSET of
    the bbox (callers pair it with the exact predicate), it just prunes
    a little less. This is the planner that turns a spatial bbox into
    parquet-min/max-prunable key predicates over a zorder_layout table:
    driver-side integer math, zero data reads.
    """
    if x0 > x1 or y0 > y1:
        raise ValueError(f"empty bbox: {(x0, x1, y0, y1)}")
    ranges: list = []

    def rec(level: int, z: int, qx: int, qy: int) -> None:
        size = 1 << level
        if qx > x1 or qx + size - 1 < x0 or qy > y1 or qy + size - 1 < y0:
            return
        if qx >= x0 and qx + size - 1 <= x1 and qy >= y0 and qy + size - 1 <= y1:
            ranges.append([z, z + (1 << (2 * level)) - 1])
            return
        half = size >> 1
        quarter = 1 << (2 * (level - 1))
        for dx, dy in ((0, 0), (1, 0), (0, 1), (1, 1)):
            rec(
                level - 1,
                z + (dx + 2 * dy) * quarter,
                qx + dx * half,
                qy + dy * half,
            )

    rec(16, 0, 0, 0)
    ranges.sort()
    merged = [ranges[0]]
    for lo, hi in ranges[1:]:
        if lo <= merged[-1][1] + 1:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    while len(merged) > max_ranges:
        # coarsen: close the smallest inter-range gap (minimal extra keys)
        gi = min(
            range(1, len(merged)),
            key=lambda i: merged[i][0] - merged[i - 1][1],
        )
        merged[gi - 1][1] = merged[gi][1]
        del merged[gi]
    return [(lo, hi) for lo, hi in merged]


def zorder_bbox_predicate(
    zkey: Column,
    lon_min: float,
    lon_max: float,
    lat_min: float,
    lat_max: float,
    res: int = 12,
    max_ranges: int = 64,
    stored_key: bool = True,
) -> Column:
    """Z-key predicate for a lon/lat bbox from zrange_decompose — a
    SUPERSET of the bbox, AND it with the exact lon/lat predicate.

    ``stored_key=True`` (layout tables, the 100-TB path): an OR of
    BETWEENs — on a zorder_layout table the key is a real column, the
    BETWEENs reach the parquet scan as min/max row-group pruning.

    ``stored_key=False`` (key COMPUTED in the same plan): ONE
    exists() over a literal ranges array, referencing zkey exactly
    twice. The BETWEEN form would push below the key's projection and
    substitute the (large) morton expression once per range bound —
    2*max_ranges inlined copies, a multi-MiB codegen blowup that OOMs
    a default-heap driver (the inline-reuse trap, measured in smoke).
    exists() does not prune parquet, but a computed key never could.

    Antimeridian: ``lon_min > lon_max`` means the bbox WRAPS (a Pacific
    query); the planner splits it into [lon_min, 180] and
    [-180, lon_max] and ORs the two decompositions (each side gets half
    the range budget). Callers must split their exact lon predicate the
    same way."""
    if lon_min > lon_max:
        a = zorder_bbox_predicate(
            zkey, lon_min, 180.0, lat_min, lat_max, res,
            max(1, max_ranges // 2), stored_key,
        )
        b = zorder_bbox_predicate(
            zkey, -180.0, lon_max, lat_min, lat_max, res,
            max(1, max_ranges // 2), stored_key,
        )
        return a | b
    x0, y0 = cell_coords(lon_min, lat_min, res)
    x1, y1 = cell_coords(lon_max, lat_max, res)
    rs = zrange_decompose(x0, x1, y0, y1, max_ranges=max_ranges)
    if stored_key:
        pred = None
        for lo, hi in rs:
            p = zkey.between(F.lit(lo), F.lit(hi))
            pred = p if pred is None else (pred | p)
        return pred
    arr = F.expr(
        "array("
        + ",".join(
            f"named_struct('lo',CAST({lo} AS BIGINT),"
            f"'hi',CAST({hi} AS BIGINT))"
            for lo, hi in rs
        )
        + ")"
    )
    return F.exists(arr, lambda r: (zkey >= r["lo"]) & (zkey <= r["hi"]))


def zrange_sql_predicate(
    zkey_expr: str,
    lon_min: float,
    lon_max: float,
    lat_min: float,
    lat_max: float,
    res: int = 12,
    max_ranges: int = 64,
) -> str:
    """SQL twin of zorder_bbox_predicate (same driver-side ranges)."""
    x0, y0 = cell_coords(lon_min, lat_min, res)
    x1, y1 = cell_coords(lon_max, lat_max, res)
    rs = zrange_decompose(x0, x1, y0, y1, max_ranges=max_ranges)
    return " OR ".join(
        f"({zkey_expr} BETWEEN {lo} AND {hi})" for lo, hi in rs
    )


def ghcell_neighbors(cell: Column, res: int) -> Column:
    """Array of the 3x3 neighborhood cell ids (edge cells emit fewer).
    Both axes clamp: longitude does NOT wrap here, unlike
    ghcell_kring_np, which wraps x around the antimeridian (the
    cell_heat_smooth oracle pins this flat-lattice behavior). Pure
    codegen: decode -> 9 candidate (x, y) -> filter in-range -> re-encode."""
    nx, ny = ghcell_nx(res), ghcell_ny(res)
    d = ghcell_decode(cell)
    cands = F.array(
        *[
            F.struct(
                (d["x"] + F.lit(dx)).alias("x"), (d["y"] + F.lit(dy)).alias("y")
            )
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    valid = F.filter(
        cands,
        lambda p: (p["x"] >= 0)
        & (p["x"] < nx)
        & (p["y"] >= 0)
        & (p["y"] < ny),
    )
    return F.transform(valid, lambda p: ghcell_from_xy(p["x"], p["y"], res))


def smooth_cell_counts(counts: DataFrame, res: int, weight: int = 1) -> DataFrame:
    """3x3 box-kernel smoothing over a (cell, n) count grid — the
    kernel-density-lite pass every heat-map tile pipeline runs before
    rendering. Each non-empty cell SCATTERS its count to its <= 9
    neighbors (explode) and one hash aggregate gathers — cost is
    O(9 * non-empty cells), never O(grid); empty cells that receive
    mass appear in the output, deserts stay absent. Center cell gets
    `weight` x its own count (weight=1 -> plain box sum). All integer.
    """
    scattered = counts.select(
        F.explode(ghcell_neighbors(F.col("cell"), res)).alias("cell"),
        F.col("n").alias("m"),
        F.col("cell").alias("src"),
    ).select(
        "cell",
        F.when(F.col("cell") == F.col("src"), F.col("m") * F.lit(weight))
        .otherwise(F.col("m"))
        .alias("m"),
    )
    return scattered.groupBy("cell").agg(F.sum("m").alias("n_smooth"))


def morton3_key(x: Column, y: Column, t: Column) -> Column:
    """3-way Morton interleave of 10-bit x/y/t (spatiotemporal cluster
    key: lon-cell, lat-cell, time-bucket). Bit-by-bit multiply-add sum
    — pure codegen, ~30 terms, and the SAME formulation as the SQL twin
    so neither side hides a magic-constant slip."""
    out = None
    for k in range(10):
        term = (
            ((x.bitwiseAND(F.lit(1 << k))) / F.lit(1 << k)).cast("long")
            * F.lit(1 << (3 * k))
            + ((y.bitwiseAND(F.lit(1 << k))) / F.lit(1 << k)).cast("long")
            * F.lit(1 << (3 * k + 1))
            + ((t.bitwiseAND(F.lit(1 << k))) / F.lit(1 << k)).cast("long")
            * F.lit(1 << (3 * k + 2))
        )
        out = term if out is None else out + term
    return out


def morton3_sql(x_expr: str, y_expr: str, t_expr: str) -> str:
    """DuckDB twin of morton3_key (bit-by-bit, 1:1 with the Column sum)."""
    return (
        f"list_sum(list_transform(range(10), k -> "
        f"((({x_expr}) >> k) & 1) * (1::BIGINT << (3 * k)) + "
        f"((({y_expr}) >> k) & 1) * (1::BIGINT << (3 * k + 1)) + "
        f"((({t_expr}) >> k) & 1) * (1::BIGINT << (3 * k + 2))))"
    )


def morton3_np(x, y, t):
    """numpy reference twin (independent of the Column path)."""
    x = np.asarray(x, dtype=np.int64)
    y = np.asarray(y, dtype=np.int64)
    t = np.asarray(t, dtype=np.int64)
    out = np.zeros_like(x)
    for k in range(10):
        out |= ((x >> k) & 1) << (3 * k)
        out |= ((y >> k) & 1) << (3 * k + 1)
        out |= ((t >> k) & 1) << (3 * k + 2)
    return out


def zrange3_decompose(
    x0: int, x1: int, y0: int, y1: int, t0: int, t1: int,
    max_ranges: int = 64,
) -> list:
    """Octree walk: a 3-D box (inclusive 10-bit coords) -> maximal
    aligned 3-way-Morton key ranges (exact: key count == box volume),
    merged, then smallest-gap coarsened to ``max_ranges`` (stays a
    SUPERSET — pair with the exact predicate). The spatiotemporal
    query planner: one bbox + time-range becomes a handful of key
    BETWEENs over a morton3-clustered layout — driver-side integer
    math, zero data reads."""
    if x0 > x1 or y0 > y1 or t0 > t1:
        raise ValueError(f"empty box: {(x0, x1, y0, y1, t0, t1)}")
    ranges: list = []

    def rec(level: int, z: int, qx: int, qy: int, qt: int) -> None:
        size = 1 << level
        if (
            qx > x1 or qx + size - 1 < x0
            or qy > y1 or qy + size - 1 < y0
            or qt > t1 or qt + size - 1 < t0
        ):
            return
        if (
            qx >= x0 and qx + size - 1 <= x1
            and qy >= y0 and qy + size - 1 <= y1
            and qt >= t0 and qt + size - 1 <= t1
        ):
            ranges.append([z, z + (1 << (3 * level)) - 1])
            return
        half = size >> 1
        eighth = 1 << (3 * (level - 1))
        for dt in (0, 1):
            for dy in (0, 1):
                for dx in (0, 1):
                    rec(
                        level - 1,
                        z + (dx + 2 * dy + 4 * dt) * eighth,
                        qx + dx * half,
                        qy + dy * half,
                        qt + dt * half,
                    )

    rec(10, 0, 0, 0, 0)
    ranges.sort()
    merged = [ranges[0]]
    for lo, hi in ranges[1:]:
        if lo <= merged[-1][1] + 1:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    while len(merged) > max_ranges:
        gi = min(
            range(1, len(merged)),
            key=lambda i: merged[i][0] - merged[i - 1][1],
        )
        merged[gi - 1][1] = merged[gi][1]
        del merged[gi]
    return [(lo, hi) for lo, hi in merged]


def zrange3_predicate(zkey: Column, ranges: list) -> Column:
    """exists() range predicate for a COMPUTED morton3 key (two key
    references total — the BETWEEN form would inline the 30-term
    interleave once per bound; see zorder_bbox_predicate)."""
    arr = F.expr(
        "array("
        + ",".join(
            f"named_struct('lo',CAST({lo} AS BIGINT),"
            f"'hi',CAST({hi} AS BIGINT))"
            for lo, hi in ranges
        )
        + ")"
    )
    return F.exists(arr, lambda r: (zkey >= r["lo"]) & (zkey <= r["hi"]))


def zrange3_sql_predicate(zkey_expr: str, ranges: list) -> str:
    """SQL twin (same driver-side ranges)."""
    return " OR ".join(
        f"({zkey_expr} BETWEEN {lo} AND {hi})" for lo, hi in ranges
    )
