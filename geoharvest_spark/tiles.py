"""Raster <-> vector tile materialization (north rule).

Vector->tile: each normalized record (via its bbox centroid) is assigned a
tile per resolution in the pyramid (grid cells res 5..9 + an S2 cell id).
Raster rollup: per-tile aggregate — record count + union envelope (A1
lifted across rows, fgdc.py:110-122 semantics) + centroid of mass.

Writes are repartitionByRange(res, cell) so tile files are range-clustered
(write locality; at cluster scale this becomes the Iceberg sort order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import index as ix
from .geo import geometry_centroid, parse_envelope

PYRAMID = (5, 6, 7, 8, 9)


def records_with_centroid(normalized_ok: DataFrame) -> DataFrame:
    """Normalized (error-free) records -> (url, id, lon, lat) via the
    validated dcat_bbox envelope midpoint (FIXTURES.md T6 centroid rule)."""
    from .geo import validated_envelope_wkt

    df = normalized_ok.select(
        "url",
        F.col("aardvark.id").alias("id"),
        validated_envelope_wkt(F.col("aardvark.dcat_bbox")).alias("bbox_wkt"),
    )
    df = df.withColumn("bbox", parse_envelope(F.col("bbox_wkt")))
    df = df.where(F.col("bbox").isNotNull())
    c = geometry_centroid(F.col("bbox"))
    return df.select(
        "url", "id", "bbox",
        c["lon"].alias("lon"), c["lat"].alias("lat"),
    )


def assign_tiles(
    records: DataFrame, resolutions: tuple[int, ...] = PYRAMID,
    s2_level: int = 12,
) -> DataFrame:
    """(url, id, lon, lat) -> one row per (record, res): tile assignment.

    The per-res cell is pure JVM arithmetic; the stack is a posexplode over
    an array built from the res list (no Python). S2 id rides along from a
    single Arrow-batched pass.
    """
    cells = F.array(*[ix.ghcell(F.col("lon"), F.col("lat"), r) for r in resolutions])
    res_arr = F.array(*[F.lit(r) for r in resolutions])
    df = (
        records.withColumn("_cells", cells)
        .withColumn("_res", res_arr)
        .withColumn("s2_cell", ix.s2_cell_udf(F.col("lon"), F.col("lat"), s2_level))
    )
    df = df.select(
        "url", "id", "lon", "lat", "s2_cell", "bbox",
        F.posexplode(F.arrays_zip("_res", "_cells")).alias("_pos", "_zc"),
    )
    return df.select(
        "url", "id", "lon", "lat", "s2_cell", "bbox",
        F.col("_zc._res").alias("res"),
        F.col("_zc._cells").alias("cell"),
    )


def tile_pyramid_counts_rollup(
    points: DataFrame,
    resolutions: tuple[int, ...] = PYRAMID,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """(res, cell, n_points) for every pyramid level via HIERARCHICAL
    rollup: one full shuffle of the points at the FINEST level, then each
    coarser level aggregates the previous level's (already tiny) counts by
    parent cell.

    Exactly equals the per-level direct computation because ghcell is
    aperture-4 with floor semantics: floor(floor(2^k t)/2^k) == floor(t),
    and the pole/antimeridian clamps commute with the parent map (asserted
    in tests/test_tiles_checkpoint.py). At 100 TB this replaces
    len(resolutions) full point shuffles (r1 plan: 5x24M rows) with ONE
    point-sized shuffle + coarse aggregations over cell counts.
    """
    fine = (
        points.select(
            ix.ghcell(F.col(lon_col), F.col(lat_col), max(resolutions)).alias("cell")
        )
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )
    return pyramid_rollup(fine, resolutions, ["n_points"])


def pyramid_rollup(
    fine: DataFrame, resolutions: tuple[int, ...], sum_cols: list[str]
) -> DataFrame:
    """(cell, *sum_cols) at the finest of `resolutions` -> (res, cell,
    *sum_cols) at every level: each cell explodes into its (res, ancestor)
    chain, then one (cell-count-sized) aggregation sums every level.

    ONE linear plan: a per-level union would re-run the input per branch,
    because Spark does not reuse identical exchanges across union arms."""
    rs = sorted(resolutions)
    finest = rs[-1]
    ancestors = F.array(
        *[
            F.struct(
                F.lit(r).alias("res"),
                (
                    F.col("cell")
                    if r == finest
                    else ix.ghcell_parent(F.col("cell"), r, finest)
                ).alias("acell"),
            )
            for r in rs
        ]
    )
    return (
        fine.select(F.explode(ancestors).alias("_a"), *sum_cols)
        .groupBy(
            F.col("_a.res").alias("res"), F.col("_a.acell").alias("cell")
        )
        .agg(*[F.sum(c).alias(c) for c in sum_cols])
    )


def tile_rollup(assigned: DataFrame) -> DataFrame:
    """Raster side: per-(res, cell) aggregate with union envelope.

    One shuffle (hash agg with map-side partial combine).
    """
    return assigned.groupBy("res", "cell").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.min("bbox.w").alias("w"),
        F.max("bbox.e").alias("e"),
        F.max("bbox.n").alias("n"),
        F.min("bbox.s").alias("s"),
        F.avg("lon").alias("centroid_lon"),
        F.avg("lat").alias("centroid_lat"),
    )


def write_tile_tables(
    assigned: DataFrame, out_dir: str, mode: str = "overwrite"
) -> None:
    """Materialize tile tables: assignments + rollup, range-clustered.

    Partitioned by res (partition pruning on pyramid level); within each
    res, files range-ordered by cell — the parquet analog of an Iceberg
    sort order, so tile lookups touch few files.

    ``assigned`` is evaluated once (eager localCheckpoint): both tables
    read it, and each would otherwise re-run its lineage, S2 UDF included.
    """
    assigned = assigned.localCheckpoint(eager=True)
    (
        assigned.repartitionByRange(F.col("res"), F.col("cell"))
        .write.mode(mode)
        .partitionBy("res")
        .parquet(f"{out_dir}/tile_assignments")
    )
    (
        tile_rollup(assigned)
        .repartitionByRange(F.col("res"), F.col("cell"))
        .write.mode(mode)
        .partitionBy("res")
        .parquet(f"{out_dir}/tile_rollup")
    )
