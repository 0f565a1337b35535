"""spark-submit entrypoint: spatial jobs — PIP join, kNN, tile pyramid.

Usage:
  spark-submit --py-files ghs.zip jobs/spatial.py pip \
      --points <parquet: point_id, lon, lat> --polygons <parquet: POLYGONS_SCHEMA> \
      --output <dir> [--res 5]
  spark-submit ... jobs/spatial.py knn \
      --queries <parquet: qid, lon, lat, k> --points <...> --output <dir> [--k 10]
  spark-submit ... jobs/spatial.py tiles \
      --normalized <parquet from jobs/harvest.py> --output <dir>
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geoharvest_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["pip", "knn", "tiles"])
    ap.add_argument("--points", default=None)
    ap.add_argument("--polygons", default=None)
    ap.add_argument("--queries", default=None)
    ap.add_argument("--normalized", default=None)
    ap.add_argument("--output", required=True)
    ap.add_argument("--res", type=int, default=5)
    ap.add_argument("--k", type=int, default=None)
    args = ap.parse_args()

    spark = get_spark(f"spatial-{args.mode}")

    if args.mode == "pip":
        from geoharvest_spark.joins import pip_join

        pts = spark.read.parquet(args.points)
        polys = spark.read.parquet(args.polygons)
        out = pip_join(pts, polys, res=args.res)
        out.write.mode("overwrite").parquet(args.output)
    elif args.mode == "knn":
        from geoharvest_spark.joins import knn_join

        q = spark.read.parquet(args.queries)
        pts = spark.read.parquet(args.points)
        out = knn_join(q, pts, k=args.k, res=max(3, args.res - 1), ring=1)
        out.write.mode("overwrite").parquet(args.output)
    else:  # tiles
        from geoharvest_spark.tiles import (
            assign_tiles,
            records_with_centroid,
            write_tile_tables,
        )

        normalized = spark.read.parquet(args.normalized)
        recs = records_with_centroid(normalized.where("error IS NULL"))
        write_tile_tables(assign_tiles(recs), args.output)
    print("DONE", args.mode)
    spark.stop()


if __name__ == "__main__":
    main()
