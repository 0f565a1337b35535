"""Hot-cell skew: the salting machinery must actually engage and stay exact.

North rule: "broadcast-free, salt-partitioned shuffle to defeat hot-cell
skew". Build a pathological distribution (90% of points in one cell) and
assert (a) the census assigns salt_k > 1 to the hot cell, (b) the build
side replicates accordingly, (c) the salted join's results equal an
oracle, (d) the salted shuffle actually splits the hot cell's rows across
salt buckets.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geoharvest_spark import index as ix
from geoharvest_spark.joins import pip_join
from geoharvest_spark.synth import polygons_pdf

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def skewed_points(spark):
    rng = np.random.RandomState(11)
    n = 20_000
    hot = rng.rand(n) < 0.9
    # hot cluster: a ~1.5 deg patch (single res-5 cell is 1.4x1.4 deg)
    lon = np.where(hot, -71.0 + rng.uniform(0, 0.5, n), rng.uniform(-179, 179, n))
    lat = np.where(hot, 42.2 + rng.uniform(0, 0.5, n), rng.uniform(-85, 85, n))
    pdf = pd.DataFrame(
        {
            "point_id": [f"p{i}" for i in range(n)],
            "lon": np.round(lon, 6),
            "lat": np.round(lat, 6),
        }
    )
    return spark.createDataFrame(pdf).cache()


def test_census_flags_hot_cell(spark, skewed_points):
    pts = skewed_points.withColumn(
        "cell", ix.ghcell(F.col("lon"), F.col("lat"), 5)
    )
    factors = ix.salt_factors(pts, rows_per_task=1000).toPandas()
    assert factors.salt_k.max() >= 10  # ~18k rows in the hot cell
    assert (factors.salt_k >= 1).all()


def test_salt_distributes_hot_cell(spark, skewed_points):
    pts = skewed_points.withColumn(
        "cell", ix.ghcell(F.col("lon"), F.col("lat"), 5)
    )
    factors = ix.salt_factors(pts, rows_per_task=1000)
    salted = ix.with_salt(pts, factors, key_col="point_id")
    hot_cell = (
        pts.groupBy("cell").count().orderBy(F.col("count").desc()).first()["cell"]
    )
    dist = (
        salted.where(F.col("cell") == hot_cell)
        .groupBy("salt")
        .count()
        .toPandas()
    )
    assert len(dist) >= 10  # hot cell fanned out across salt buckets
    # xxhash64 balance: no bucket holds more than 3x the mean
    assert dist["count"].max() < dist["count"].mean() * 3


def test_skewed_pip_exact_vs_unsalted(spark, skewed_points):
    from tests.test_joins import _pip_oracle

    polys = spark.createDataFrame(polygons_pdf(150))
    a = {
        (r.point_id, r.poly_id)
        for r in pip_join(skewed_points, polys, res=5, rows_per_task=1000)
        .select("point_id", "poly_id").collect()
    }
    assert a == _pip_oracle(skewed_points.toPandas(), polygons_pdf(150))
    assert len(a) > 0


def test_contract_skew_census_bounds_max_task(spark):
    """The pip_skew_hot_cell contract input (50% of events in one res-5
    cell): the census must flag the hot cell AND the salted bucket sizes
    must stay within ~2x rows_per_task — the property that bounds the max
    task at 100 TB (xxhash64 imbalance stays far below 2x at these
    counts)."""
    import sys

    sys.path.insert(0, REPO)
    import __spark_entry__ as E
    from tests.conftest import SF001

    target = 50  # SF001 events are 10x smaller than sf0.01
    pts = E._skew_points(spark, SF001).withColumn(
        "cell", ix.ghcell(F.col("lon"), F.col("lat"), 5)
    )
    n_hot = (
        pts.groupBy("cell").count().agg(F.max("count")).first()[0]
    )
    assert n_hot >= pts.count() * 0.4  # the pathology is real
    factors = ix.salt_factors(pts, rows_per_task=target)
    assert (
        factors.agg(F.max("salt_k")).first()[0] >= n_hot // target
    )  # census flagged the hot cell
    salted = ix.with_salt(pts, factors, key_col="point_id")
    bucket_max = (
        salted.groupBy("cell", "salt").count().agg(F.max("count")).first()[0]
    )
    assert bucket_max <= 2 * target


def test_contract_skew_join_parity_vs_unsalted(spark):
    """The contract query's full operator output on the pathological input
    equals the closed-bounds rectangle join (salting never changes
    results; no point sits on a rect boundary)."""
    import sys

    sys.path.insert(0, REPO)
    import __spark_entry__ as E
    from tests.conftest import SF001

    pts = E._skew_points(spark, SF001)
    polys = E._skew_rects_df(spark)
    a = {
        (r.point_id, r.poly_id)
        for r in pip_join(pts, polys, res=5, rows_per_task=50)
        .select("point_id", "poly_id")
        .collect()
    }
    pdf = pts.toPandas()
    want = {
        (pid, rid)
        for rid, w, s, e, n in E._SKEW_RECTS
        for pid in pdf.point_id[
            pdf.lon.between(w, e) & pdf.lat.between(s, n)
        ]
    }
    assert a == want and len(a) > 0
