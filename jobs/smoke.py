"""spark-submit smoke job: runs the driver contract end to end.

Usage:
    spark-submit --py-files <zip-or-dir> jobs/smoke.py [sf_dir]

Prints the flagship head, per-query row counts, and probe results.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from geoharvest_spark.pipeline import cell_counts  # noqa: E402
from geoharvest_spark.schema import PAGES_SCHEMA  # noqa: E402
from geoharvest_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("smoke")

    df = entrymod.entry(spark)
    rows = df.limit(5).collect()
    print("ENTRY_SCHEMA", df.schema.simpleString())
    for r in rows:
        print("ENTRY_ROW", r.asDict())

    for name, fn in entrymod.queries().items():
        print("QUERY", name, "rows=", fn(spark, sf_dir).count())

    # full-parity normalize path (pages -> aardvark + error side-channel)
    from geoharvest_spark.normalize import split_failed
    from geoharvest_spark.pipeline import harvest_pages
    from geoharvest_spark.synth import web_pages_df

    norm = harvest_pages(web_pages_df(spark, 120)).cache()
    ok, failed = split_failed(norm)
    print("NORMALIZE ok=", ok.count(), "failed=", failed.count())
    sample = ok.select(
        "aardvark.id", "aardvark.dct_title_s", "aardvark.dcat_bbox"
    ).head(2)
    for r in sample:
        print("NORMALIZE_ROW", r.asDict())
    for r in failed.groupBy("error.stage").count().collect():
        print("NORMALIZE_ERRSTAGE", r.asDict())

    # spatial joins + tiles
    from geoharvest_spark.joins import knn_join, pip_join
    from geoharvest_spark.synth import polygons_df, query_points_df
    from geoharvest_spark.tiles import assign_tiles, records_with_centroid, tile_rollup

    recs = records_with_centroid(ok).withColumnRenamed("id", "point_id")
    pip = pip_join(
        recs.select("point_id", "lon", "lat"), polygons_df(spark, 100), res=5
    )
    print("PIP rows=", pip.count())
    knn = knn_join(query_points_df(spark, 40), recs.select("point_id", "lon", "lat"))
    print("KNN rows=", knn.count(), "sample=", knn.orderBy("qid", "rank").head(2))
    tiles = assign_tiles(records_with_centroid(ok))
    print("TILES assignments=", tiles.count(), "rollup=", tile_rollup(tiles).count())

    # probe 1: empty input -> empty result, no crash (F10 early-exit analog)
    empty = spark.createDataFrame([], schema=PAGES_SCHEMA)
    print("PROBE_EMPTY rows=", cell_counts(empty, res=5).count())

    # probe 2: null html + garbage html -> extractor yields nulls, no crash
    import datetime as dt

    junk = spark.createDataFrame(
        [
            ("u1", dt.datetime(2024, 1, 1), None, None, "en"),
            ("u2", dt.datetime(2024, 1, 1), b"\xff\xfe not html <p", None, "en"),
            ("u3", dt.datetime(2024, 1, 1), b"<html><body><script type="
             b'"application/geo-metadata" data-format="gbl1">not json</script>'
             b"</body></html>", None, "en"),
        ],
        schema=PAGES_SCHEMA,
    )
    out = cell_counts(junk, res=5)
    print("PROBE_JUNK rows=", out.count())
    from geoharvest_spark.extract import with_metadata

    md = with_metadata(junk).select("url", "metadata_format").collect()
    print("PROBE_JUNK_META", [(r.url, r.metadata_format) for r in md])
    spark.stop()


if __name__ == "__main__":
    main()
