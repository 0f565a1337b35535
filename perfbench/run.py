"""Closed-loop benchmark of the geoharvest_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One client (this process) issues each operation only after the previous
one finished, on ``local[4]``. After staging the seeded inputs and one
untimed warm-up pass, passes over the workload's operations repeat until
``--seconds`` have been measured. Every operation's output is checked.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a traced run (see
README.md). The line before it is the run record: host evidence, per-pass
timings, output digests and check failures.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# stagings per run; setup_s reports their median
SETUP_REPS = 2

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
}

# every operation, in workload order
OPS = ("pip", "knn", "pyramid", "raster_pyramid", "zonal",
       "harvest", "tile_write", "chunk_dedup", "substring_dedup", "cc")
SPARK_UNITS = {"jobs": "count", "stages": "count", "executor_run_s": "s", "gc_s": "s",
               "shuffle_bytes": "bytes", "spill_bytes": "bytes", "slot_idle_s": "s"}

PER_LAYER = {
    "session.start_s": "s",
    "trace.run_s": "s",
    "trace.overhead_s": "s",
    "trace.unaccounted_frac": "ratio",
    **{f"{op}_s": "s" for op in OPS},
    "pipeline.harvest_s": "s",
    "pipeline.python_s": "s",
    "pipeline.arrow_bytes_in": "bytes",
    "pipeline.ok_ratio": "ratio",
    "checkpoint.pending_s": "s",
    "checkpoint.partition_metrics_s": "s",
    "checkpoint.mark_s": "s",
    "checkpoint.lineage_rows": "count",
    "sinks.jsonl_s": "s",
    "sinks.events_s": "s",
    "sinks.run_stats_s": "s",
    "sinks.bytes_written": "bytes",
    "sinks.write_amp": "ratio",
    "tiles.assign_s": "s",
    "tiles.write_tables_s": "s",
    "tiles.jobs": "count",
    "tiles.files_written": "count",
    "tiles.bytes_written": "bytes",
    "tiles.fine_cells": "count",
    "index.salt_factors_s": "s",
    "index.hot_cells": "count",
    "index.max_salt": "count",
    "joins.cover_rows": "count",
    "joins.prefilter_keep_ratio": "ratio",
    "joins.pip_candidates": "count",
    "joins.pip_matches": "count",
    "joins.refine_yield": "ratio",
    "joins.refine_python_s": "s",
    "joins.knn_passes": "count",
    "joins.knn_candidates": "count",
    "joins.knn_unresolved_ring1": "count",
    "joins.knn_brute_rows": "count",
    "raster.cell_stats_s": "s",
    "raster.pixels": "count",
    "raster.cells_out": "count",
    "raster.python_s": "s",
    "textops.chunk_grams": "count",
    "textops.substring_grams": "count",
    "textops.dup_keys": "count",
    "textops.cc_rounds": "count",
    "textops.cc_round_s": "s",
    **{f"spark.{op}.{f}": u for op in OPS for f, u in SPARK_UNITS.items()},
}

# child span of an operation -> per-layer metric of its median duration
CHILD_SPAN_METRICS = {
    "checkpoint.pending": "checkpoint.pending_s",
    "checkpoint.partition_metrics": "checkpoint.partition_metrics_s",
    "checkpoint.mark": "checkpoint.mark_s",
    "sinks.write_combined_jsonl": "sinks.jsonl_s",
    "sinks.pooled_events": "sinks.events_s",
    "sinks.run_stats": "sinks.run_stats_s",
    "tiles.write_tile_tables": "tiles.write_tables_s",
}


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Runner:
    """One workload in one session: warm-up, then timed passes."""

    def __init__(self, wl, rss) -> None:
        self.wl = wl
        self.rss = rss
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.digests: dict = {}
        self.observed: dict = {}

    def run_pass(self, tag: str) -> dict:
        """One pass over the operations; returns op -> seconds."""
        from perfbench.workloads import as_u64

        times = {}
        tracer = self.wl.tracer
        tracer.run = tag
        for op in self.wl.ops():
            self.wl.spark.catalog.clearCache()
            self.attempted += 1
            try:
                with tracer.span(f"op.{op.name}") as sp:
                    observed = op.run()
                times[op.name] = sp.duration
                self.rss.sample()
                errs = op.check(observed)
                self.digests[op.name] = [int(observed.get("rows", 0)),
                                         format(as_u64(observed.get("digest")), "016x")]
                self.observed[op.name] = observed
            except Exception:  # keep the loop running; the op counts as failed
                errs = [traceback.format_exc(limit=4)]
            if errs:
                self.failed += 1
                self.errors.extend(f"{tag} {op.name}: {e}" for e in errs)
                print(f"perfbench: {tag} {op.name} failed: {errs[0]}", file=sys.stderr)
        return times

    def measure(self, seconds: float) -> list[dict]:
        """At least one pass; another only while it is expected to end
        within ``seconds`` of the start."""
        passes: list[dict] = []
        t0 = time.perf_counter()
        while not passes or (time.perf_counter() - t0) * (len(passes) + 1) / len(passes) <= seconds:
            passes.append(self.run_pass(f"pass{len(passes)}"))
        return passes


def op_medians(passes: list[dict]) -> dict:
    ops = passes[0].keys() if passes else []
    return {op: median([p[op] for p in passes if op in p]) for op in ops}


def run_medians(passes: list[dict]) -> float:
    return median([sum(p.values()) for p in passes])


def item_seconds(passes: list[dict], ops: tuple) -> float:
    """Median over passes of the lead operations' summed time."""
    return median([sum(p.get(op, 0.0) for op in ops) for p in passes])


def setup(wl, work: str) -> list[float]:
    """Stage the inputs SETUP_REPS times from scratch; returns the times."""
    from perfbench.host import remove_tree

    times = []
    for _ in range(SETUP_REPS):
        remove_tree(os.path.join(work, "inputs"))
        t0 = time.perf_counter()
        wl.stage()
        times.append(time.perf_counter() - t0)
    return times


def run(workload: str, seed: int, seconds: float, trace: bool, scale: float) -> tuple[dict, dict]:
    from perfbench import host
    from perfbench.tracing import Tracer
    from perfbench.workloads import make

    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
    record: dict = {"workload": workload, "seed": seed, "seconds": seconds,
                    "scale": scale, "trace": int(trace),
                    "load_before": host.load_avg(), "dram": host.dram_probe()}
    rss = host.RssMeter()
    sess = None
    try:
        sess = host.Session(ROOT, work)
        spark = sess.spark
        record["host"] = host.evidence(spark)
        wl = make(workload, spark, seed, scale, work, Tracer(spark.sparkContext))
        stage_times = setup(wl, work)
        t0 = time.perf_counter()
        wl.reference()
        reference_s = time.perf_counter() - t0
        runner = Runner(wl, rss)
        t0 = time.perf_counter()
        runner.run_pass("warmup")
        warmup_s = time.perf_counter() - t0
        passes = runner.measure(seconds)
        setup_s = sess.start_s + median(stage_times) + warmup_s
        record.update({
            "session_start_s": sess.start_s, "staging_s": stage_times,
            "reference_s": reference_s,
            "warmup_s": warmup_s, "passes": passes, "items": wl.items,
            "item_ops": wl.item_ops,
        })
        if trace:
            sess.stop()
            sess = host.Session(ROOT, work, event_log=True)
            metrics = traced(sess, wl, runner, passes, seconds, record)
        else:
            metrics = {
                "setup_s": setup_s,
                "run_s": run_medians(passes),
                "items_per_s": wl.items / max(item_seconds(passes, wl.item_ops), 1e-9),
                "peak_rss_mb": rss.peak_mb,
            }
        record.update({"digests": runner.digests, "errors": runner.errors,
                       "failed_ops_frac": runner.failed / max(1, runner.attempted)})
        result = {"correct": runner.failed == 0, "attempted": runner.attempted,
                  "failed": runner.failed, "metrics": metrics}
    finally:
        if sess is not None:
            sess.stop()
        host.shutdown_jvm()
        host.remove_tree(work)
        try:  # the shared parent, when no other run is using it
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    record["load_after"] = host.load_avg()
    return record, result


def traced(sess, wl, runner, untraced_passes, seconds, record) -> dict:
    """On a session with the event log on, run traced passes and the
    isolated sub-function calls, and derive the per-layer metrics."""
    from perfbench import host
    from perfbench import tracing as tr

    tracer = tr.Tracer(sess.spark.sparkContext, enabled=True)
    # no second warm-up: JIT and generated code survive the restart
    wl.bind(sess.spark, tracer)
    passes = runner.measure(seconds)
    isolated = wl.isolated()
    sess.stop()
    log = tr.read_event_log(sess.event_log_path())

    m = {k: 0.0 for k in PER_LAYER}
    m["session.start_s"] = record["session_start_s"]
    m["trace.run_s"] = run_medians(passes)
    m["trace.overhead_s"] = m["trace.run_s"] - run_medians(untraced_passes)
    for op, t in op_medians(untraced_passes).items():
        m[f"{op}_s"] = t

    per_pass: dict = {}  # pass -> metric -> value, summed over its operations
    unaccounted = []
    for sp in tracer.spans:
        if not sp.name.startswith("op.") or not sp.run.startswith("pass"):
            continue
        op = sp.name[3:]
        jobs = tr.span_jobs(log, tracer.subtree(sp))
        vals = {f"spark.{op}.{k}": v for k, v in
                tr.spark_metrics(log, jobs, sp.duration, host.CORES).items()}
        for c in tracer.children(sp):
            if c.name in CHILD_SPAN_METRICS:
                vals[CHILD_SPAN_METRICS[c.name]] = c.duration
        vals.update(layer_from_nodes(op, tr.node_metrics(log, jobs), jobs, wl))
        unaccounted.append(1.0 - tr.accounted_frac(log, tracer, sp))
        acc = per_pass.setdefault(sp.run, {})
        for k, v in vals.items():
            acc[k] = acc.get(k, 0.0) + v
    for k in {k for acc in per_pass.values() for k in acc}:
        m[k] = median([acc.get(k, 0.0) for acc in per_pass.values()])
    m["trace.unaccounted_frac"] = max(unaccounted) if unaccounted else 0.0
    m.update(wl.layer_counts(runner.observed))
    m.update(isolated)
    if m["joins.pip_candidates"]:
        m["joins.refine_yield"] = m["joins.pip_matches"] / m["joins.pip_candidates"]
    if m["textops.cc_rounds"]:
        m["textops.cc_round_s"] = m["cc_s"] / m["textops.cc_rounds"]
    record["spans"] = [
        {"id": s.id, "name": s.name, "parent": s.parent, "run": s.run,
         "isolated": s.isolated, "start": s.start, "end": s.end,
         "self_s": tr.self_time(tracer, s)}
        for s in tracer.spans
    ]
    return m


def layer_from_nodes(op: str, rows, jobs, wl) -> dict:
    """Layer counters read from the SQL plan-node metrics of one operation."""
    from perfbench.tracing import executions, sum_metric

    py_run = "time to run Python workers"
    out_rows = "number of output rows"
    if op == "pip":
        return {
            "joins.pip_candidates": sum_metric(rows, out_rows, "ArrowEvalPython"),
            "joins.refine_python_s": sum_metric(rows, py_run, "ArrowEvalPython") / 1000.0,
            "joins.prefilter_keep_ratio":
                sum_metric(rows, out_rows, "BroadcastHashJoin", "LeftSemi") / wl.items,
        }
    if op == "knn":
        n_q = wl.queries_n
        return {
            # one emptiness probe per ring pass, then the write
            "joins.knn_passes": len(executions(jobs)) - 1,
            "joins.knn_candidates": sum_metric(rows, out_rows, "HashJoin", "Inner")
            + sum_metric(rows, out_rows, "SortMergeJoin", "Inner"),
            # the ring-cell UDF sees every query once per pass it enters
            "joins.knn_unresolved_ring1":
                max(0.0, sum_metric(rows, out_rows, "ArrowEvalPython") - n_q),
            "joins.knn_brute_rows": sum_metric(rows, out_rows, "CartesianProduct")
            + sum_metric(rows, out_rows, "NestedLoopJoin"),
        }
    if op == "harvest":
        return {
            "pipeline.python_s": sum_metric(rows, py_run, "MapInArrow") / 1000.0,
            "pipeline.arrow_bytes_in":
                sum_metric(rows, "data sent to Python workers", "MapInArrow"),
        }
    if op == "tile_write":
        return {"tiles.jobs": len(jobs)}
    if op in ("raster_pyramid", "zonal"):  # summed over both in the pass
        return {"raster.python_s": sum_metric(rows, py_run, "MapInPandas") / 1000.0}
    if op == "chunk_dedup":
        return {"textops.chunk_grams": sum_metric(rows, out_rows, "Generate")}
    if op == "substring_dedup":
        return {
            "textops.substring_grams": sum_metric(rows, out_rows, "Generate"),
            "textops.dup_keys": sum_metric(rows, out_rows, "BroadcastExchange"),
        }
    if op == "cc":
        return {"textops.cc_rounds": len(executions(jobs)) - 1}
    return {}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["spatial", "web"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (tests use a tiny scale)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "geoharvest_spark", "__init__.py")):
        print("perfbench: the geoharvest_spark package is not in this checkout",
              file=sys.stderr)
        return 2
    # import the package from this checkout, and keep the script directory
    # off the path so its modules cannot shadow the standard library
    sys.path[:] = [ROOT] + [p for p in sys.path if p not in (ROOT, HERE)]
    record, result = run(args.workload, args.seed, args.seconds, bool(args.trace),
                         args.scale)
    units = PER_LAYER if args.trace else END_TO_END
    result["metrics"] = {k: {"value": result["metrics"][k], "unit": u}
                         for k, u in units.items()}
    print(json.dumps({"record": record}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
