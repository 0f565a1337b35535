"""The tree runs from any checkout path: the package resolves from its own
directory on the driver and in the Python workers, never from a fixed path."""

from __future__ import annotations

import os
import sys

import geoharvest_spark

PKG = os.path.dirname(os.path.abspath(geoharvest_spark.__file__))


def test_loaded_modules_resolve_inside_package():
    sys.path.insert(0, os.path.dirname(PKG))
    import __spark_entry__  # noqa: F401 (loads most of the package)

    mods = {
        name: mod for name, mod in sys.modules.items()
        if name == "geoharvest_spark" or name.startswith("geoharvest_spark.")
    }
    assert len(mods) > 10
    for name, mod in mods.items():
        path = os.path.abspath(mod.__file__)
        assert path.startswith(PKG + os.sep), (name, path)


def test_workers_import_package_from_its_parent(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.executorEnv.PYTHONPATH") == os.path.dirname(PKG)

    def where(_):
        import geoharvest_spark as g

        return os.path.dirname(os.path.abspath(g.__file__))

    assert spark.sparkContext.parallelize([0], 1).map(where).collect() == [PKG]
