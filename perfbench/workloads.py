"""The workloads: seeded staging, the operations in order, and the output
check of every operation. Each workload is a ``Composite`` of two parts:
``spatial`` = SpatialJoin + RasterZonal, ``web`` = Ingest + WebDedup.

Each operation is a call into the engine's public API whose result is
fully materialized. Where the result is only consumed by the noop sink,
its row count and an order-independent xxhash64 digest ride the same
action as observed metrics, so checking adds no Spark job to the timed
region.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from . import inputs
from .host import remove_tree

DIGEST_TYPE = "decimal(38,0)"
U64 = 1 << 64


def digest_col(cols: list[str], where=None):
    h = F.xxhash64(*cols)
    if where is not None:
        h = F.when(where, h)
    return F.sum(h.cast(DIGEST_TYPE))


def count_col(where=None):
    return F.count(F.lit(1)) if where is None else F.count(F.when(where, 1))


def as_u64(v) -> int:
    return int(v or 0) % U64


def observe_noop(df: DataFrame, cols: list[str], extra: dict | None = None) -> dict:
    """Materialize ``df`` to the noop sink; return its row count, digest
    and any ``extra`` aggregates, observed on the same action."""
    obs = Observation()
    aggs = [count_col().alias("rows"), digest_col(cols).alias("digest")]
    aggs += [c.alias(k) for k, c in (extra or {}).items()]
    df.observe(obs, *aggs).write.format("noop").mode("overwrite").save()
    return dict(obs.get)


def digest_of(df: DataFrame, cols: list[str]) -> tuple[int, int]:
    row = df.agg(count_col().alias("n"), digest_col(cols).alias("d")).first()
    return int(row["n"]), as_u64(row["d"])


def digest_rows(spark, rows: list[tuple], schema) -> tuple[int, int]:
    """(count, digest) of reference rows, hashed by Spark's xxhash64 with
    the same column types as the engine's output."""
    df = spark.createDataFrame(rows, schema)
    return digest_of(df, df.columns)


@dataclass
class Op:
    name: str
    run: Callable[[], dict]
    check: Callable[[dict], list[str]]


@dataclass
class Workload:
    """Staged inputs, the reference answers and the operations."""

    spark: object
    seed: int
    scale: float
    work: str
    tracer: object
    items: int = 0
    item_ops: tuple = ()
    expected: dict = field(default_factory=dict)

    def n(self, base: int, floor: int = 1) -> int:
        return max(floor, int(base * self.scale))

    def span(self, name: str, isolated: bool = False):
        return self.tracer.span(name, isolated=isolated)

    def stage(self) -> None:
        """Write the seeded inputs under the work directory and ``load``
        them."""
        raise NotImplementedError

    def reference(self) -> None:
        """Compute the reference answers the output checks compare to."""
        raise NotImplementedError

    def load(self) -> None:
        """Bind the staged inputs to the current session."""
        raise NotImplementedError

    def path(self, name: str) -> str:
        return os.path.join(self.work, "inputs", type(self).__name__, name)

    def ops(self) -> list[Op]:
        raise NotImplementedError

    def isolated(self) -> dict:
        """Isolated calls of sub-functions, traced runs only."""
        return {}

    def layer_counts(self, observed: dict) -> dict:
        return {}


def _mismatch(label: str, got, want) -> list[str]:
    return [] if got == want else [f"{label}: got {got}, want {want}"]


def _digest_check(label: str, obs: dict, want: tuple[int, int],
                  rows: str = "rows", digest: str = "digest") -> list[str]:
    return _mismatch(label, (int(obs[rows]), as_u64(obs[digest])), want)


def write_parquet(spark, pdf, path: str, schema=None, parts: int = 4) -> None:
    spark.createDataFrame(pdf, schema).repartition(parts).write.mode(
        "overwrite"
    ).parquet(path)


# ---------------------------------------------------------------------------
# spatial_join: pip_join -> knn_join -> tile_pyramid_counts_rollup
# ---------------------------------------------------------------------------
class SpatialJoin(Workload):
    POINTS = 60_000
    POLYGONS = 2000
    QUERIES = 200
    PIP_RES = 5
    SAMPLE_MOD = 50   # pip reference on point_id % 50 == r
    QSAMPLE_MOD = 10  # knn reference on qid % 10 == r

    def stage(self) -> None:
        from geoharvest_spark.schema import POLYGONS_SCHEMA

        spark = self.spark
        n_pts = self.n(self.POINTS, 2000)
        pts_pdf = inputs.points_pdf(self.seed, n_pts)
        poly_pdf = inputs.polygons_pdf(self.seed, self.n(self.POLYGONS, 40))
        q_pdf = inputs.queries_pdf(self.seed, self.n(self.QUERIES, 12))
        self._pdfs = pts_pdf, poly_pdf, q_pdf
        write_parquet(spark, pts_pdf, self.path("points"))
        write_parquet(spark, poly_pdf, self.path("polygons"), POLYGONS_SCHEMA, 1)
        write_parquet(spark, q_pdf, self.path("queries"), parts=1)
        # the census threshold scales with the point count, so the three
        # hot spots are salted at every scale as they are at 2.4M points
        self.rows_per_task = max(100, n_pts // 40)
        # points per second through the whole read path on them: one op
        # alone is too short to time steadily in a single pass
        self.items, self.item_ops = n_pts, ("pip", "knn", "pyramid")
        self.queries_n = len(q_pdf)
        self.load()

    def reference(self) -> None:
        spark = self.spark
        pts_pdf, poly_pdf, q_pdf = self._pdfs
        r = self.seed % self.SAMPLE_MOD
        self.pip_pred = F.col("point_id") % self.SAMPLE_MOD == r
        sample = pts_pdf[pts_pdf["point_id"] % self.SAMPLE_MOD == r]
        pip_rows = inputs.pip_reference(sample, poly_pdf)
        self.expected["pip"] = digest_rows(
            spark, pip_rows, "point_id long, poly_id string")

        rq = self.seed % self.QSAMPLE_MOD
        self.knn_pred = F.col("qid") % self.QSAMPLE_MOD == rq
        knn_rows = inputs.knn_reference(pts_pdf, q_pdf[q_pdf["qid"] % self.QSAMPLE_MOD == rq])
        self.expected["knn"] = digest_rows(
            spark, knn_rows, "qid long, point_id long, rank int")
        self.expected["n_points"] = len(pts_pdf)

    def load(self) -> None:
        read = self.spark.read.parquet
        self.points = read(self.path("points"))
        self.polygons = read(self.path("polygons"))
        self.queries = read(self.path("queries"))

    def _pip(self) -> dict:
        from geoharvest_spark.joins import pip_join

        with self.span("joins.pip_join"):
            df = pip_join(self.points, self.polygons, res=self.PIP_RES,
                          rows_per_task=self.rows_per_task)
        cols = ["point_id", "poly_id"]
        with self.span("sink.noop"):
            return observe_noop(df, cols, {
                "s_rows": count_col(self.pip_pred),
                "s_digest": digest_col(cols, self.pip_pred),
            })

    def _knn(self) -> dict:
        from geoharvest_spark.joins import knn_join

        with self.span("joins.knn_join"):
            df = knn_join(self.queries, self.points, res=self.PIP_RES - 1, ring=1)
        cols = ["qid", "point_id", "rank"]
        with self.span("sink.noop"):
            return observe_noop(df, cols, {
                "s_rows": count_col(self.knn_pred),
                "s_digest": digest_col(cols, self.knn_pred),
            })

    def _pyramid(self) -> dict:
        from geoharvest_spark.tiles import PYRAMID, tile_pyramid_counts_rollup

        with self.span("tiles.tile_pyramid_counts_rollup"):
            df = tile_pyramid_counts_rollup(self.points)
        extra = {f"n{r}": F.sum(F.when(F.col("res") == r, F.col("n_points")))
                 for r in PYRAMID}
        extra["fine_cells"] = count_col(F.col("res") == max(PYRAMID))
        with self.span("sink.noop"):
            return observe_noop(df, ["res", "cell", "n_points"], extra)

    def _check_pyramid(self, o: dict) -> list[str]:
        from geoharvest_spark.tiles import PYRAMID

        out = []
        for r in PYRAMID:
            out += _mismatch(f"points at res {r}", int(o[f"n{r}"] or 0),
                             self.expected["n_points"])
        return out

    def ops(self) -> list[Op]:
        return [
            Op("pip", self._pip, lambda o: _digest_check(
                "pip sample", o, self.expected["pip"], "s_rows", "s_digest")),
            Op("knn", self._knn, lambda o: _digest_check(
                "knn sample", o, self.expected["knn"], "s_rows", "s_digest")),
            Op("pyramid", self._pyramid, self._check_pyramid),
        ]

    def isolated(self) -> dict:
        from geoharvest_spark import index as ix
        from geoharvest_spark.joins import polygon_cover_cells

        out = {}
        with self.span("joins.polygon_cover_cells", isolated=True):
            cover = polygon_cover_cells(self.polygons, self.PIP_RES)
            out["joins.cover_rows"] = observe_noop(cover, ["cell", "poly_id"])["rows"]
        cells = cover.select("cell").distinct()
        pts = self.points.withColumn(
            "cell", ix.ghcell(F.col("lon"), F.col("lat"), self.PIP_RES)
        ).join(F.broadcast(cells), "cell", "left_semi")
        with self.span("index.salt_factors", isolated=True) as sp:
            row = ix.salt_factors(pts, "cell", rows_per_task=self.rows_per_task).agg(
                count_col(F.col("salt_k") > 1).alias("hot"),
                F.max("salt_k").alias("max_salt"),
            ).first()
        out["index.salt_factors_s"] = sp.duration
        out["index.hot_cells"] = int(row["hot"])
        out["index.max_salt"] = int(row["max_salt"] or 0)
        return out

    def layer_counts(self, observed: dict) -> dict:
        return {
            "joins.pip_matches": int(observed["pip"]["rows"]),
            "tiles.fine_cells": int(observed["pyramid"]["fine_cells"]),
        }


# ---------------------------------------------------------------------------
# ingest: jobs/harvest.py then jobs/spatial.py tiles, through the same calls
# ---------------------------------------------------------------------------
class Ingest(Workload):
    PAGES = 400
    PARTITIONS = 16
    JOB, SNAP = "harvest", "snap0"

    def stage(self) -> None:
        from geoharvest_spark.schema import PAGES_SCHEMA

        n = self.n(self.PAGES, 50)
        write_parquet(self.spark, inputs.pages_pdf(self.seed, n), self.path("pages"),
                      PAGES_SCHEMA)
        self.load()
        self.input_bytes = _tree_bytes(self.path("pages"))
        self.items, self.item_ops = n, ("harvest", "tile_write")
        self.seq = 0

    def reference(self) -> None:
        from geoharvest_spark.pipeline import harvest_pages
        from geoharvest_spark.tiles import PYRAMID, records_with_centroid

        # reference: the unfused harvest path, digested over the same columns
        ref = harvest_pages(self.pages).cache()
        self.cols = ref.columns
        ok = F.col("error").isNull()
        part = F.pmod(F.xxhash64("url"), F.lit(self.PARTITIONS))
        row = ref.agg(count_col().alias("n"), digest_col(self.cols).alias("d"),
                      count_col(ok).alias("n_ok"),
                      F.count_distinct(part).alias("parts")).first()
        self.expected["harvest"] = int(row["n"]), as_u64(row["d"])
        self.expected["n_ok"] = int(row["n_ok"])
        self.expected["partitions"] = int(row["parts"])
        self.expected["tile_records"] = records_with_centroid(ref.where(ok)).count()
        self.expected["levels"] = len(PYRAMID)
        ref.unpersist()

    def load(self) -> None:
        self.pages = self.spark.read.parquet(self.path("pages"))

    def _work(self) -> DataFrame:
        # jobs/harvest.py's deterministic url-hash partitioning
        return self.pages.withColumn(
            "partition_id",
            F.pmod(F.xxhash64("url"), F.lit(self.PARTITIONS)).cast("int"),
        )

    def _out(self) -> str:
        return os.path.join(self.work, "out", f"pass{self.seq}")

    def _harvest(self) -> dict:
        from geoharvest_spark import sinks
        from geoharvest_spark.checkpoint import CheckpointStore, partition_metrics
        from geoharvest_spark.normalize import split_failed
        from geoharvest_spark.pipeline import harvest_pages_fused

        self.seq += 1
        out = self._out()
        spark = self.spark
        store = CheckpointStore(spark, f"{out}/lineage")
        work = self._work()
        with self.span("checkpoint.pending"):
            todo = store.pending(work, self.JOB, self.SNAP)
        with self.span("pipeline.harvest_pages_fused"):
            normalized = harvest_pages_fused(todo).join(
                todo.select("url", "partition_id"), "url")
        normalized.cache()
        ok, failed = split_failed(normalized)
        with self.span("sinks.write_normalized"):
            ok.drop("partition_id").write.mode("append").parquet(f"{out}/normalized")
        with self.span("sinks.write_errors"):
            failed.select("url", "identifier", "error").write.mode("append").parquet(
                f"{out}/errors")
        with self.span("sinks.write_combined_jsonl"):
            sinks.write_combined_jsonl(ok, f"{out}/combined_jsonl")
        with self.span("sinks.pooled_events"):
            sinks.pooled_events(ok).write.mode("append").parquet(f"{out}/events_out")
        with self.span("checkpoint.partition_metrics"):
            metrics = partition_metrics(normalized)
        with self.span("checkpoint.mark"):
            store.mark(self.JOB, self.SNAP, metrics)
        with self.span("sinks.run_stats"):
            stats = sinks.run_stats(normalized)
        self._normalized = normalized
        written = _tree_bytes(out)
        return {"stats": stats, "lineage_rows": len(metrics), "bytes_written": written}

    def _check_harvest(self, o: dict) -> list[str]:
        # untimed: the cached frame is digested after the timed replay
        got = digest_of(self._normalized.drop("partition_id"), self.cols)
        self._normalized.unpersist()
        o["rows"], o["digest"] = got
        st = o["stats"]
        return (_mismatch("harvest digest", got, self.expected["harvest"])
                + _mismatch("processed", st["processed"], self.items)
                + _mismatch("successful", st["successful"], self.expected["n_ok"])
                + _mismatch("lineage rows", o["lineage_rows"], self.expected["partitions"]))

    def _tiles(self) -> dict:
        from geoharvest_spark.tiles import (
            assign_tiles,
            records_with_centroid,
            write_tile_tables,
        )

        out = self._out()
        normalized = self.spark.read.parquet(f"{out}/normalized")
        with self.span("tiles.records_with_centroid"):
            recs = records_with_centroid(normalized.where("error IS NULL"))
        with self.span("tiles.assign_tiles"):
            assigned = assign_tiles(recs)
        with self.span("tiles.write_tile_tables"):
            write_tile_tables(assigned, f"{out}/tiles")
        files, nbytes = _tree_files(f"{out}/tiles")
        return {"files": files, "bytes": nbytes}

    def _check_tiles(self, o: dict) -> list[str]:
        out = self._out()
        rollup = self.spark.read.parquet(f"{out}/tiles/tile_rollup")
        per_level = {r["res"]: int(r["n"]) for r in rollup.groupBy("res").agg(
            F.sum("n_records").alias("n")).collect()}
        assigned = self.spark.read.parquet(f"{out}/tiles/tile_assignments")
        o["rows"], o["digest"] = digest_of(rollup, ["res", "cell", "n_records"])
        want = self.expected["tile_records"]
        errs = _mismatch("levels", len(per_level), self.expected["levels"])
        for r, n in sorted(per_level.items()):
            errs += _mismatch(f"records at res {r}", n, want)
        errs += _mismatch("assignments", assigned.count(),
                          want * self.expected["levels"])
        remove_tree(out)
        return errs

    def ops(self) -> list[Op]:
        return [Op("harvest", self._harvest, self._check_harvest),
                Op("tile_write", self._tiles, self._check_tiles)]

    def isolated(self) -> dict:
        from geoharvest_spark.pipeline import harvest_pages_fused
        from geoharvest_spark.tiles import assign_tiles, records_with_centroid

        out = {}
        with self.span("pipeline.harvest_pages_fused", isolated=True) as sp:
            observe_noop(harvest_pages_fused(self.pages), ["url"])
        out["pipeline.harvest_s"] = sp.duration
        ok = harvest_pages_fused(self.pages).where(F.col("error").isNull())
        recs = records_with_centroid(ok)
        with self.span("tiles.assign_tiles", isolated=True) as sp:
            observe_noop(assign_tiles(recs), ["url", "res", "cell"])
        out["tiles.assign_s"] = sp.duration
        return out

    def layer_counts(self, observed: dict) -> dict:
        h, t = observed["harvest"], observed["tile_write"]
        st = h["stats"]
        return {
            "pipeline.ok_ratio": st["successful"] / max(1, st["processed"]),
            "checkpoint.lineage_rows": h["lineage_rows"],
            "sinks.bytes_written": h["bytes_written"],
            "sinks.write_amp": h["bytes_written"] / max(1, self.input_bytes),
            "tiles.files_written": t["files"],
            "tiles.bytes_written": t["bytes"],
        }


def _tree_files(path: str) -> tuple[int, int]:
    files = nbytes = 0
    for d, _, names in os.walk(path):
        for name in names:
            if not name.startswith((".", "_")):
                files += 1
                nbytes += os.path.getsize(os.path.join(d, name))
    return files, nbytes


def _tree_bytes(path: str) -> int:
    return _tree_files(path)[1]


# ---------------------------------------------------------------------------
# raster_zonal: raster_cell_stats -> raster_tile_pyramid, raster_zonal_stats
# ---------------------------------------------------------------------------
class RasterZonal(Workload):
    RASTERS = 24
    POLYGONS = 2000
    RES = 7
    PIP_RES = 5
    LEVELS = (5, 6, 7)

    def stage(self) -> None:
        from geoharvest_spark.schema import POLYGONS_SCHEMA

        spark = self.spark
        n = self.n(self.RASTERS, 8)
        poly_pdf = inputs.polygons_pdf(self.seed, self.n(self.POLYGONS, 40))
        write_parquet(spark, poly_pdf, self.path("polygons"), POLYGONS_SCHEMA, 1)
        write_parquet(spark, _raster_pdf(self.seed, n), self.path("rasters"))
        self._poly_pdf, self.n_rasters = poly_pdf, n
        self.items, self.item_ops = n * inputs.RASTER_PX ** 2, ("zonal",)
        self.load()

    def reference(self) -> None:
        spark, poly_pdf = self.spark, self._poly_pdf
        cells = inputs.raster_reference(self.seed, self.n_rasters, self.RES)
        self.expected["pixels"] = int(cells["n_pixels"].sum())
        self.expected["sum_val"] = int(cells["sum_val"].sum())
        self.expected["cells"] = digest_rows(
            spark, [tuple(int(v) for v in r) for r in cells.itertuples(index=False)],
            "cell long, n_pixels long, sum_val long")
        self.expected["zonal"] = digest_rows(
            spark, inputs.zonal_reference(cells, poly_pdf, self.RES),
            "poly_id string, n_cells long, n_pixels long, sum_val long")

    def load(self) -> None:
        self.polygons = self.spark.read.parquet(self.path("polygons"))
        self.rasters = self.spark.read.parquet(self.path("rasters"))

    def _pyramid(self) -> dict:
        from geoharvest_spark.raster import raster_cell_stats, raster_tile_pyramid

        with self.span("raster.raster_cell_stats"):
            cells = raster_cell_stats(self.rasters, res=self.RES)
        with self.span("raster.raster_tile_pyramid"):
            df = raster_tile_pyramid(cells, resolutions=self.LEVELS)
        fine = F.col("res") == self.RES
        extra = {}
        for r in self.LEVELS:
            extra[f"px{r}"] = F.sum(F.when(F.col("res") == r, F.col("n_pixels")))
            extra[f"sv{r}"] = F.sum(F.when(F.col("res") == r, F.col("sum_val")))
        extra["f_rows"] = count_col(fine)
        extra["f_digest"] = digest_col(["cell", "n_pixels", "sum_val"], fine)
        with self.span("sink.noop"):
            return observe_noop(df, ["res", "cell", "n_pixels", "sum_val"], extra)

    def _check_pyramid(self, o: dict) -> list[str]:
        errs = _digest_check("finest cells", o, self.expected["cells"], "f_rows", "f_digest")
        for r in self.LEVELS:
            errs += _mismatch(f"pixels at res {r}", int(o[f"px{r}"] or 0),
                              self.expected["pixels"])
            errs += _mismatch(f"pixel sum at res {r}", int(o[f"sv{r}"] or 0),
                              self.expected["sum_val"])
        return errs

    def _zonal(self) -> dict:
        from geoharvest_spark.raster import raster_zonal_stats

        with self.span("raster.raster_zonal_stats"):
            df = raster_zonal_stats(self.rasters, self.polygons, res=self.RES,
                                    pip_res=self.PIP_RES)
        with self.span("sink.noop"):
            return observe_noop(df, ["poly_id", "n_cells", "n_pixels", "sum_val"])

    def ops(self) -> list[Op]:
        return [
            Op("raster_pyramid", self._pyramid, self._check_pyramid),
            Op("zonal", self._zonal,
               lambda o: _digest_check("zonal", o, self.expected["zonal"])),
        ]

    def isolated(self) -> dict:
        from geoharvest_spark.raster import raster_cell_stats

        with self.span("raster.raster_cell_stats", isolated=True) as sp:
            observe_noop(raster_cell_stats(self.rasters, res=self.RES), ["cell"])
        return {"raster.cell_stats_s": sp.duration}

    def layer_counts(self, observed: dict) -> dict:
        o = observed["raster_pyramid"]
        return {"raster.pixels": int(o[f"px{self.RES}"] or 0),
                "raster.cells_out": int(o["f_rows"])}


def _raster_pdf(seed: int, n: int):
    import pandas as pd

    from geoharvest_spark.raster import encode_tiff

    rows = []
    for rid in range(n):
        rows.append((rid, encode_tiff(
            inputs.raster_image(seed, rid),
            pixel_scale=(inputs.RASTER_STEP, inputs.RASTER_STEP),
            tiepoint=inputs.raster_tiepoint(seed, rid),
            compression=5 if rid % 8 == 0 else 1,
        )))
    return pd.DataFrame(rows, columns=["rid", "payload"])


# ---------------------------------------------------------------------------
# web_dedup: chunk_dedup -> substring_span_dedup -> connected_components
# ---------------------------------------------------------------------------
class WebDedup(Workload):
    DOCS = 4_000
    CHUNK_TOKENS = 20
    K = 8

    def stage(self) -> None:
        from jobs.headroom import doc_text_expr

        n = self.n(self.DOCS, 200)
        base = (self.seed % 1000) * 1_000_000
        self.spark.range(base, base + n, 1, 4).select(
            F.col("id").alias("doc_id"), doc_text_expr(F.col("id")).alias("text")
        ).write.mode("overwrite").parquet(self.path("docs"))
        self.id_range = base, base + n
        self.items, self.item_ops = n, ("substring_dedup",)
        self.load()

    def reference(self) -> None:
        import numpy as np

        from geoharvest_spark.textops import chunk_dedup, substring_span_dedup

        spark = self.spark
        docs = [(int(r["doc_id"]), r["text"]) for r in self.docs.collect()]
        chunk_schema = chunk_dedup(self.docs, self.CHUNK_TOKENS).schema
        self.expected["chunk"] = digest_rows(
            spark, inputs.chunk_dedup_reference(docs, self.CHUNK_TOKENS), chunk_schema)
        # the shuffle-hash fallback path, pinned equal to the broadcast path
        slow = substring_span_dedup(self.docs, k=self.K, emit_clean=False,
                                    broadcast_threshold=None)
        self.expected["substring"] = digest_of(slow, slow.columns)
        spark.catalog.clearCache()
        edges = inputs.cc_edges(np.arange(*self.id_range, dtype=np.int64))
        self.expected["cc"] = digest_rows(
            spark, inputs.cc_reference(edges), "id long, component long")

    def load(self) -> None:
        self.docs = self.spark.read.parquet(self.path("docs"))
        a = F.col("doc_id")
        ids = self.docs.select("doc_id")
        # the planted chain + star pair graph of inputs.cc_edges
        self.edges = ids.where(a % 10 < 3).select(
            a.alias("id_a"), (a + 1).alias("id_b")
        ).union(ids.where((a % 37 != 0) & (a % 4 == 0)).select(
            a.alias("id_a"), (a - a % 37).alias("id_b")))

    def _chunk(self) -> dict:
        from geoharvest_spark.textops import chunk_dedup

        with self.span("textops.chunk_dedup"):
            df = chunk_dedup(self.docs, chunk_tokens=self.CHUNK_TOKENS)
        with self.span("sink.noop"):
            return observe_noop(df, df.columns)

    def _substring(self) -> dict:
        from geoharvest_spark.textops import substring_span_dedup

        with self.span("textops.substring_span_dedup"):
            df = substring_span_dedup(self.docs, k=self.K, emit_clean=False)
        with self.span("sink.noop"):
            return observe_noop(df, df.columns)

    def _cc(self) -> dict:
        from geoharvest_spark.textops import connected_components

        with self.span("textops.connected_components"):
            df = connected_components(self.edges)
        with self.span("sink.noop"):
            return observe_noop(df, ["id", "component"])

    def ops(self) -> list[Op]:
        return [
            Op("chunk_dedup", self._chunk,
               lambda o: _digest_check("chunk dedup", o, self.expected["chunk"])),
            Op("substring_dedup", self._substring,
               lambda o: _digest_check("substring dedup", o, self.expected["substring"])),
            Op("cc", self._cc, lambda o: _digest_check("cc", o, self.expected["cc"])),
        ]


class Composite:
    """Parts run in order as one workload; the first part's lead
    operations give ``items_per_s``."""

    def __init__(self, parts: list[Workload]) -> None:
        self.parts = parts

    def __getattr__(self, name):  # items, item_ops, queries_n, ...
        for p in self.parts:
            if name in vars(p):
                return vars(p)[name]
        raise AttributeError(name)

    @property
    def spark(self):
        return self.parts[0].spark

    @property
    def tracer(self):
        return self.parts[0].tracer

    def bind(self, spark, tracer) -> None:
        for p in self.parts:
            p.spark, p.tracer = spark, tracer
            p.load()

    def stage(self) -> None:
        for p in self.parts:
            p.stage()

    def reference(self) -> None:
        for p in self.parts:
            p.reference()

    def ops(self) -> list[Op]:
        return [op for p in self.parts for op in p.ops()]

    def isolated(self) -> dict:
        return {k: v for p in self.parts for k, v in p.isolated().items()}

    def layer_counts(self, observed: dict) -> dict:
        return {k: v for p in self.parts for k, v in p.layer_counts(observed).items()}


# workload -> parts, in order
WORKLOADS = {
    "spatial": (SpatialJoin, RasterZonal),
    "web": (Ingest, WebDedup),
}


def make(name: str, spark, seed: int, scale: float, work: str, tracer) -> Composite:
    return Composite([cls(spark, seed, scale, work, tracer) for cls in WORKLOADS[name]])

