"""Fused harvest operator must be semantically identical to the staged one."""

from __future__ import annotations

from pyspark.sql import functions as F

from geoharvest_spark.pipeline import harvest_pages, harvest_pages_fused


def _normalized_pdf(df):
    return (
        df.select(
            "url", "identifier", "origin", "metadata_format", "event",
            F.to_json("aardvark").alias("aard_json"),
            F.to_json("error").alias("err_json"),
        )
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )


def test_fused_equals_staged(spark, pages_small):
    staged = _normalized_pdf(harvest_pages(pages_small))
    fused = _normalized_pdf(harvest_pages_fused(pages_small))
    assert staged.shape == fused.shape
    for col in staged.columns:
        mism = (staged[col].fillna("~") != fused[col].fillna("~")).sum()
        assert mism == 0, f"column {col} differs in {mism} rows"
