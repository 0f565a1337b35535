"""Mobility analytics: origin-destination flows over the cell grid.

The OD matrix — "how many trips went from cell A to cell B" — is the
workhorse geospatial-mobility aggregate (transport planning, migration
studies, CDR analysis). Distributed shape:

  assign ghcell -> ONE window shuffle on the entity (lag over
  (t_us, event_id) gives each fix its predecessor cell) -> one hash
  aggregate on (from_cell, to_cell) with map-side combine

The window buffers one entity's fixes (bounded by that entity's track
length — the same bound any trajectory engine carries; a 100-TB run
partitions by entity and entities are millions-cardinality). Cell
assignment and ordering are pure integer arithmetic, so the DuckDB
oracle replays the whole pipeline exactly.

The reference (MITLibraries/geo-harvester) has no trajectory operators;
this extends the beyond-reference geospatial family (tiles, PIP, kNN,
DBSCAN, z-order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .index import ghcell


def od_matrix(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int = 1,
    id_col: str = "event_id",
    include_self: bool = False,
) -> DataFrame:
    """(from_cell, to_cell, n_trips) over consecutive fixes per entity.

    Fixes are ordered by (event_time_us, id) — the id tie-break makes
    same-instant fixes deterministic on any partitioning. Self-loops
    (consecutive fixes in the same cell) are dropped unless
    include_self: at fix rates >> movement rates they dominate the
    matrix without carrying flow information.
    """
    t = F.unix_micros(F.col(ts_col).cast("timestamp"))
    cells = df.select(
        F.col(user_col).alias("u"),
        t.alias("t"),
        F.col(id_col).alias("eid"),
        ghcell(F.col(lon_col), F.col(lat_col), res).alias("cell"),
    )
    w = Window.partitionBy("u").orderBy("t", "eid")
    flows = cells.select(
        F.lag("cell").over(w).alias("from_cell"),
        F.col("cell").alias("to_cell"),
    ).where(F.col("from_cell").isNotNull())
    if not include_self:
        flows = flows.where(F.col("from_cell") != F.col("to_cell"))
    return flows.groupBy("from_cell", "to_cell").agg(
        F.count(F.lit(1)).alias("n_trips")
    )


def stay_points(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int = 0,
    min_fixes: int = 2,
    min_duration_us: int = 0,
    id_col: str = "event_id",
) -> DataFrame:
    """Stay-point detection: maximal runs of consecutive fixes inside
    one cell (gaps-and-islands — island id = running count of cell
    changes), kept if the run has >= min_fixes fixes and spans >=
    min_duration_us. Returns (user, cell, enter_us, leave_us, n_fixes).

    Same distributed shape as od_matrix: the two windows share ONE
    (user)-partitioned shuffle (Catalyst collapses same-spec windows),
    then a hash aggregate on (user, island). All integer arithmetic —
    the oracle replays it with the identical gap-cumsum SQL idiom used
    by the sessionization oracle.
    """
    t = F.unix_micros(F.col(ts_col).cast("timestamp"))
    cells = df.select(
        F.col(user_col).alias("u"),
        t.alias("t"),
        F.col(id_col).alias("eid"),
        ghcell(F.col(lon_col), F.col(lat_col), res).alias("cell"),
    )
    w = Window.partitionBy("u").orderBy("t", "eid")
    marked = cells.withColumn(
        "new_run",
        F.when(
            F.lag("cell").over(w).isNull()
            | (F.lag("cell").over(w) != F.col("cell")),
            1,
        ).otherwise(0),
    ).withColumn(
        "island",
        F.sum("new_run").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    runs = marked.groupBy("u", "island", "cell").agg(
        F.min("t").alias("enter_us"),
        F.max("t").alias("leave_us"),
        F.count(F.lit(1)).alias("n_fixes"),
    )
    return runs.where(
        (F.col("n_fixes") >= min_fixes)
        & (F.col("leave_us") - F.col("enter_us") >= min_duration_us)
    ).select(
        F.col("u").alias(user_col), "cell", "enter_us", "leave_us", "n_fixes"
    )


def trajectory_lengths(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "t_us",
    lon_col: str = "lon",
    lat_col: str = "lat",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-entity great-circle track length: order each entity's fixes
    by (ts, id), measure every consecutive hop with the codegen
    haversine, floor each hop to whole meters, and sum the resulting
    BIGINTs — integer sums are order-free, so the total is identical
    across partitionings, cluster sizes, and engines (the flooring is
    the same determinism trick as graph.pagerank's scaled ints; the
    sub-meter truncation loss is bounded by n_hops meters).

    Plan: ONE window shuffle on the entity (lag gives the predecessor
    fix — buffers one entity's track, the bound every trajectory engine
    carries) -> narrow haversine + floor -> one hash aggregate per
    entity with map-side combine. No Python anywhere.

    Returns (user, n_hops, path_m): hop count and floored-meter length.
    Single-fix entities have no hops and drop out (left-join the entity
    table if 0-rows must appear).
    """
    from .geo import haversine_m

    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    hops = df.select(
        F.col(user_col),
        F.col(ts_col),
        F.col(id_col),
        F.col(lon_col).alias("_lon"),
        F.col(lat_col).alias("_lat"),
    ).select(
        F.col(user_col),
        F.lag("_lon").over(w).alias("_plon"),
        F.lag("_lat").over(w).alias("_plat"),
        F.col("_lon"),
        F.col("_lat"),
    )
    hop_m = F.floor(
        haversine_m(
            F.col("_plon"), F.col("_plat"), F.col("_lon"), F.col("_lat")
        )
    ).cast("long")
    return (
        hops.where(F.col("_plon").isNotNull())
        .select(F.col(user_col), hop_m.alias("hop_m"))
        .groupBy(user_col)
        .agg(
            F.count(F.lit(1)).alias("n_hops"),
            F.sum("hop_m").alias("path_m"),
        )
    )


def grid_density_clusters(
    df: DataFrame,
    res: int = 3,
    min_pts: int = 5,
    lon_col: str = "lon",
    lat_col: str = "lat",
    max_iter: int = 50,
) -> DataFrame:
    """Grid-density clustering (the STING/CLIQUE-family approximation of
    DBSCAN production systems run at scale): a cell with >= ``min_pts``
    points is DENSE, and dense cells that touch (8-neighborhood, with
    longitude wraparound) merge into one cluster. Cluster id = the
    minimum dense-cell id in the connected component.

    Why this formulation at 100 TB: point-level DBSCAN needs an
    eps-neighbor join over every point; the grid version reduces the
    data ONCE to per-cell counts (hash aggregate, map-side combine) and
    then runs entirely on the DENSE-CELL graph — millions of cells, not
    billions of points. The merge is the engine's distributed
    large-star/small-star connected components (textops.py:752), the
    same machinery the near-dup clustering uses, so rounds are
    O(log^2 n) with checkpoint-truncated lineage.

    Plan: one (cell) hash aggregate over the points -> dense filter ->
    4-offset neighbor explode + self-equi-join builds the adjacency
    (each undirected edge emitted once; the CC treats pairs as
    undirected) -> connected components -> re-join labels to dense
    cells. Shuffles are cell-keyed; nothing touches Python.

    Returns (cell, cluster, n_points) for every dense cell; cold cells
    are noise by definition and drop out (join the cell table back for
    per-point labels).
    """
    from .index import (
        ghcell,
        ghcell_decode,
        ghcell_from_xy,
        ghcell_nx,
        ghcell_ny,
    )
    from .textops import connected_components

    nx, ny = ghcell_nx(res), ghcell_ny(res)
    cells = (
        df.select(ghcell(F.col(lon_col), F.col(lat_col), res).alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )
    dense = cells.where(F.col("n_points") >= min_pts)
    d = ghcell_decode(F.col("cell"))
    x, y = d["x"], d["y"]
    # 4 of the 8 neighbor offsets — the symmetric half arrives from the
    # other endpoint's emission; x wraps (longitude), y clamps (poles)
    offsets = [(1, -1), (1, 0), (1, 1), (0, 1)]
    nbr = F.explode(
        F.array(
            *[
                F.struct(
                    F.pmod(x + F.lit(dx), F.lit(nx)).alias("nx"),
                    (y + F.lit(dy)).alias("ny"),
                )
                for dx, dy in offsets
            ]
        )
    )
    edges = (
        dense.select(F.col("cell"), nbr.alias("nb"))
        .where((F.col("nb.ny") >= 0) & (F.col("nb.ny") < ny))
        .select(
            F.col("cell").alias("id_a"),
            ghcell_from_xy(F.col("nb.nx"), F.col("nb.ny"), res).alias("id_b"),
        )
        .join(
            dense.select(F.col("cell").alias("id_b")),
            "id_b",
            "left_semi",
        )
    )
    comps = connected_components(
        edges,
        vertices=dense.select(F.col("cell").alias("id")),
        max_iter=max_iter,
    )
    return (
        dense.join(comps, dense["cell"] == comps["id"])
        .select("cell", F.col("component").alias("cluster"), "n_points")
    )


def radius_of_gyration(
    fixes: DataFrame,
    res: int = 7,
    user_col: str = "user_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Per-user radius of gyration (squared, in grid-cell units) — the
    standard human-mobility spread measure (Gonzalez et al. 2008),
    EXACT: fixes snap to integer cell coordinates at ``res`` and the
    spread uses the integer variance identity

        n^2 * rog2 = n*sum(x^2) - (sum x)^2 + n*sum(y^2) - (sum y)^2

    so the only floating op is the ONE final division — bit-identical
    in SQL, no data-ordered double sums, no sqrt (report the square;
    callers compare against squared thresholds).

    Plan: a single user-keyed hash aggregate with map-side partials —
    no window, no second pass for the mean. Keep n * |coord|^2 under
    2^62: at res 7 (x < 1024) that allows ~4e12 fixes per user.

    Returns (user, n_fixes, n_cells, rog2_cell2).
    """
    from .index import ghcell_xy

    x, y = ghcell_xy(F.col(lon_col), F.col(lat_col), res)
    g = fixes.select(
        F.col(user_col).alias("user"), x.alias("_x"), y.alias("_y")
    )
    agg = g.groupBy("user").agg(
        F.count(F.lit(1)).alias("n_fixes"),
        F.countDistinct("_x", "_y").alias("n_cells"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
    )
    n = F.col("n_fixes")
    num = (
        n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
        + n * F.col("_syy") - F.col("_sy") * F.col("_sy")
    )
    return agg.select(
        "user",
        "n_fixes",
        "n_cells",
        (num.cast("double") / (n * n).cast("double")).alias("rog2_cell2"),
    )
