"""Tiny-scale smoke of the benchmark command: every workload runs once with
all output checks passing, a traced run reports every per-layer metric,
and the command refuses to run where the engine's package is absent."""

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import run

ROOT = run.ROOT
SCRIPT = os.path.join("perfbench", "run.py")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int, cwd: str = ROOT, scale: str = "0.02"):
    return subprocess.run(
        [sys.executable, SCRIPT, "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", scale],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_benchmark_json_matches_metric_tables():
    b = _bench()
    assert [m["name"] for m in b["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in b["workloads"]] == ["spatial", "web"]
    assert b["command"] == ["python3", SCRIPT]


@pytest.mark.parametrize("workload", ["spatial", "web"])
def test_workload_smoke(workload):
    p = _run(workload, 0)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    record = json.loads(lines[-2])["record"]
    assert result["correct"] and result["failed"] == 0, record["errors"]
    assert result["attempted"] >= 2 * len(record["digests"])
    assert set(result["metrics"]) == set(run.END_TO_END)
    assert all(m["value"] > 0 for m in result["metrics"].values())
    assert record["host"]["nproc"] >= 1 and record["host"]["driver_mem"]
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work", f"{workload}-"))


def test_traced_smoke():
    p = _run("spatial", 1)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    record = json.loads(lines[-2])["record"]
    assert result["correct"], record["errors"]
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert set(m) == set(run.PER_LAYER)
    for k in ("session.start_s", "trace.run_s", "pip_s", "zonal_s",
              "joins.pip_candidates", "joins.pip_matches", "joins.cover_rows",
              "joins.knn_passes", "raster.pixels", "spark.pip.jobs",
              "spark.knn.executor_run_s"):
        assert m[k] > 0, k
    # the web layers do nothing on this workload
    for k in ("harvest_s", "pipeline.python_s", "textops.cc_rounds", "spark.cc.jobs"):
        assert m[k] == 0, k
    assert 0 <= m["trace.unaccounted_frac"] < 0.5
    ops = [s for s in record["spans"] if s["name"].startswith("op.")]
    assert ops and all(s["end"] >= s["start"] for s in ops)


def test_refuses_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("spatial", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""
