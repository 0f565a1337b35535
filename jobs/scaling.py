"""Scaling-efficiency run: the same spatial workload at a given parallelism.

Usage: spark-submit jobs/scaling.py <cores> [sf_dir] [n_pages]
Prints one JSON line {"cores": N, "seconds": {...}, "rows": {...}}.

The north rule requires >=0.8 throughput scaling efficiency from N to 4N
executors; in this sandbox the two cluster sizes are local[8] vs local[32]
(driver instruction). jobs/run_scaling.sh runs both and writes
BENCH/BASELINE.md.

Workload (CPU-heavy, shuffle-real):
  W1 extract+normalize: n_pages synthetic web pages, distributed generation
     -> metadata extraction -> 5-format normalization -> error split
  W2 PIP join: 600k lineitem-derived points vs 25 world-grid polygons
     (salted, broadcast-free) at res 4
  W3 tile pyramid: res 5/6/7 cell counts over the same points
  W4 kNN: 300 queries, ring+window plan
  W5 chunk dedup: sub-document first-wins dedup over a 100k-doc synthetic
     corpus (explode + hash aggregates + equi-join — the webtext family)
  W6 pagerank (extra leg, excluded from the cross-round total): integer
     PageRank over a planted 4-out-regular 250k-node graph, 5 iterations
     (per-iteration join + hash agg + left join + localCheckpoint — the
     Pregel shape; the driver-side iteration sync is part of the cost)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from geoharvest_spark import index as ix  # noqa: E402
from geoharvest_spark.joins import knn_join, pip_join  # noqa: E402
from geoharvest_spark.normalize import split_failed  # noqa: E402
from geoharvest_spark.pipeline import harvest_pages_fused as harvest_pages  # noqa: E402
from geoharvest_spark.session import get_spark  # noqa: E402
from geoharvest_spark.synth import query_points_df, web_pages_df  # noqa: E402


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed_min(fn, reps: int = 3) -> float:
    """Min wall-clock over reps — robust to this shared host's noise."""
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 2)


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    n_pages = int(sys.argv[3]) if len(sys.argv) > 3 else 6000
    rep = int(sys.argv[4]) if len(sys.argv) > 4 else 4

    # IDENTICAL plan + data layout in both legs: partition counts must NOT
    # depend on `cores`, or the small leg runs 4x-bigger tasks (spilling and
    # producing super-linear artifacts like the r1 pip_join 8.98x). A fixed
    # task grid means only the scheduler's parallelism varies between legs —
    # the quantity the north rule actually measures.
    N_PART = 48
    spark = get_spark(f"scaling-{cores}", cores=cores, shuffle_partitions=N_PART)
    seconds: dict[str, float] = {}
    rows: dict[str, int] = {}

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # replication -> rep*600k points so shuffle/refine work dominates overhead
    li = li.withColumn("rep", F.explode(F.array(*[F.lit(i) for i in range(rep)])))
    pts = (
        li.select(
            (F.col("l_orderkey") * 32 + F.col("l_linenumber") * 8 + F.col("rep"))
            .alias("point_id"),
            ((F.col("l_orderkey") * 7919 + F.col("l_linenumber") * 131
              + F.col("rep") * 101159)
             % 36000 / 100.0 - 180.0).alias("lon"),
            ((F.col("l_orderkey") * 104729 + F.col("l_linenumber") * 257
              + F.col("rep") * 35742)
             % 18000 / 100.0 - 90.0).alias("lat"),
        )
        .repartition(N_PART)
        .cache()
    )
    rows["points"] = pts.count()

    # realistic polygon dim: synthetic polygons with 5-10 vertex rings incl.
    # continent-scale ones (hot cells) — the refine stage does real ray-cast
    # work per candidate, as a production PIP does
    from geoharvest_spark.synth import polygons_df

    polys = polygons_df(spark, 2000).cache()
    polys.count()

    # ---- warm-up (untimed): spin up + import-load every python worker so
    # timed numbers measure throughput, not one-time worker cold start ----
    _noop(
        split_failed(harvest_pages(web_pages_df(spark, 300, partitions=N_PART)))[0]
        .select("url")
    )
    _noop(pip_join(pts.limit(5000), polys, res=5))
    _noop(knn_join(query_points_df(spark, 10), pts.limit(5000), res=4, ring=1))

    # W1 normalize (generation + extraction + 5-format normalize, CPU-bound)
    def w1():
        ok, _failed = split_failed(
            harvest_pages(web_pages_df(spark, n_pages, partitions=N_PART))
        )
        _noop(ok.select("url", "aardvark.id", "aardvark.dcat_bbox", "error"))

    seconds["normalize"] = _timed_min(w1)
    rows["pages"] = n_pages

    # W2 PIP
    seconds["pip_join"] = _timed_min(
        lambda: _noop(pip_join(pts, polys, res=5, rows_per_task=100_000))
    )

    # W3 tiles: full res 5..9 pyramid via hierarchical rollup — ONE
    # point-sized shuffle at res 9, then parent aggregation of the (small)
    # counts per coarser level (replaces r1's 5x-exploded 24M-row shuffle;
    # equality with the direct plan is oracle-checked by the driver)
    def w3():
        from geoharvest_spark.tiles import tile_pyramid_counts_rollup

        _noop(tile_pyramid_counts_rollup(pts, (5, 6, 7, 8, 9)))

    seconds["tiles"] = _timed_min(w3)

    # W3b tiles at 4x points (VERDICT r5 #8): on the base leg the bounded
    # res-9 rollup tail (the <=8.4M-cell grid constant, DRAM-bound on one
    # box) is a large fixed fraction of the wall time and drags measured
    # scaling below the operator's true shape. At 4x points the
    # point-sized aggregation dominates, so this leg is the
    # scale-representative tiles number (round-5 profile adjudication,
    # preserved section of BENCH/BASELINE.md).
    from geoharvest_spark.tiles import tile_pyramid_counts_rollup

    pts4 = (
        pts.withColumn("r4", F.explode(F.array(*[F.lit(i) for i in range(4)])))
        .select(
            (F.col("point_id") * 4 + F.col("r4")).alias("point_id"),
            "lon",
            "lat",
        )
        .repartition(N_PART)
        .cache()
    )
    rows["points4"] = pts4.count()
    seconds["tiles_4x"] = _timed_min(
        lambda: _noop(tile_pyramid_counts_rollup(pts4, (5, 6, 7, 8, 9)))
    )
    pts4.unpersist()

    # W4 kNN. Two measurement fixes vs r1:
    # - 2000 queries (not 300): ~126M candidate distances, so compute >>
    #   fixed overhead;
    # - a UNIQUE query frame per rep: Spark's CacheManager matches
    #   semantically-equal plans, so a rep must never be able to read an
    #   earlier rep's cache (r1's 0.89s/0.45s numbers were such reads,
    #   from a ranked-frame cache knn_join no longer has).
    def _knn_rep(n_extra: int):
        qs = query_points_df(spark, 2000 + n_extra)
        _noop(knn_join(qs, pts, res=4, ring=1))

    knn_times = []
    for i in range(3):
        t0 = time.perf_counter()
        _knn_rep(i)
        knn_times.append(time.perf_counter() - t0)
    seconds["knn"] = round(min(knn_times), 2)

    # W5 chunk dedup (webtext): docs cached so the timed reps measure the
    # operator (explode -> keeper aggregate -> join -> reassembly), not
    # the synth; chunk_dedup holds no internal cache, so identical reps
    # recompute honestly
    from geoharvest_spark.textops import chunk_dedup
    from jobs.headroom import synth_docs

    docs = synth_docs(spark, 100_000).repartition(N_PART).cache()
    rows["docs"] = docs.count()
    seconds["chunk_dedup"] = _timed_min(
        lambda: _noop(chunk_dedup(docs, chunk_tokens=20))
    )

    # W6 pagerank: each invocation builds fresh eager localCheckpoints,
    # so identical reps recompute honestly (no CacheManager plan-match —
    # the connected_components precedent)
    from geoharvest_spark.graph import pagerank

    pr_nodes = (
        spark.range(250_000).select("id").repartition(N_PART).cache()
    )
    rows["pr_nodes"] = pr_nodes.count()

    def w6():
        s = F.col("id")
        n_ids = 250_000
        edges = pr_nodes.select(
            s.alias("src"),
            F.explode(
                F.array(
                    (s * 7 + 1) % n_ids,
                    (s * 11 + 3) % n_ids,
                    (s * 13 + 5) % n_ids,
                    (s * 17 + 9) % n_ids,
                )
            ).alias("dst"),
        ).where(F.col("src") != F.col("dst"))
        _noop(pagerank(edges, nodes=pr_nodes, iters=5, scale=10**10))

    seconds["pagerank"] = _timed_min(w6)

    # W7 grid-density clusters (r6 session-3, excluded extra leg like
    # pagerank): clustered points -> ONE cell-count reduce (the linear,
    # input-sized stage) -> dense-cell CC on the ~20k-cell blob graph.
    # Fresh eager localCheckpoints per invocation, so reps recompute
    # honestly (pagerank precedent).
    from geoharvest_spark.mobility import grid_density_clusters

    s = F.col("point_id")
    cpts = pts.select(
        (((s % 20000) * 7919 % 340) - 170.0
         + (s * 13 % 200) / 100.0).alias("lon"),
        (((s % 20000) * 104729 % 160) - 80.0
         + (s * 17 % 200) / 100.0).alias("lat"),
    )
    seconds["grid_clusters"] = _timed_min(
        lambda: _noop(grid_density_clusters(cpts, res=6, min_pts=50))
    )

    seconds["total"] = round(sum(seconds.values()), 2)
    print(json.dumps({"cores": cores, "seconds": seconds, "rows": rows}))
    spark.stop()


if __name__ == "__main__":
    main()
