"""Milestone-0 vertical slice: pages -> bbox -> cells -> counts."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from geoharvest_spark.pipeline import cell_counts, pages_to_cells

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_pages_to_cells_has_rows(pages_small):
    df = pages_to_cells(pages_small, res=7)
    n = df.count()
    assert n > 200  # most of 300 rows carry a valid bbox
    assert df.where(F.col("cell").isNull()).count() == 0
    assert df.where(F.col("s2_cell").isNull()).count() == 0


def test_invalid_bbox_rows_dropped(pages_small):
    """fgdc rows with w>e produce no parsed bbox (validator semantics)."""
    df = pages_to_cells(pages_small, res=7)
    parsed = df.where((F.col("bbox.w") > F.col("bbox.e"))).count()
    assert parsed == 0


def test_cell_counts_aggregate(pages_small):
    out = cell_counts(pages_small, res=5).toPandas()
    assert out.n_records.sum() > 200
    # hot regions (synth puts ~60% of rows in 3 metros) -> skewed head
    assert out.n_records.iloc[0] > out.n_records.mean() * 3


def test_entry_contract(spark):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry_mod", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    df = mod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
