"""Spans around the benchmark's calls into the engine, and the Spark event
log parser that turns a traced run into per-layer metrics.

A span is (id, name, start, end, parent, run id, isolated). While a span is
open every Spark job this process submits carries its id in the local
property ``perfbench.span``, so the event log attributes jobs, stages,
tasks and SQL plan-node metrics to spans without any extra Spark action.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PROP = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: str
    isolated: bool = False
    start: float = 0.0
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory and tags Spark jobs, only when ``enabled``;
    disabled, a span is just a timer."""

    def __init__(self, sc=None, enabled: bool = False, run: str = "run") -> None:
        self.sc = sc
        self.enabled = enabled
        self.run = run
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _tag(self) -> None:
        if self.enabled and self.sc is not None:
            top = self._stack[-1] if self._stack else None
            self.sc.setLocalProperty(SPAN_PROP, str(top.id) if top else None)

    @contextmanager
    def span(self, name: str, isolated: bool = False):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None,
                  self.run, isolated or bool(parent and parent.isolated))
        if self.enabled:
            self.spans.append(sp)
        self._stack.append(sp)
        self._tag()
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._tag()

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def subtree(self, sp: Span) -> set[int]:
        ids, todo = {sp.id}, [sp.id]
        while todo:
            pid = todo.pop()
            for s in self.spans:
                if s.parent == pid:
                    ids.add(s.id)
                    todo.append(s.id)
        return ids


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------
@dataclass
class Job:
    id: int
    span: int | None
    execution: int | None
    start_ms: int = 0
    end_ms: int = 0
    stages: list = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)           # job id -> Job
    stage_metrics: dict = field(default_factory=dict)  # stage id -> summed task metrics
    plan_nodes: dict = field(default_factory=dict)     # execution id -> {acc id: (node, desc, metric)}
    acc_values: dict = field(default_factory=dict)     # acc id -> summed updates


_SQL = "org.apache.spark.sql.execution.ui."


def _walk_plan(info: dict, nodes: dict) -> None:
    for m in info.get("metrics", []):
        nodes[m["accumulatorId"]] = (info["nodeName"], info.get("simpleString", ""),
                                     m["name"])
    for child in info.get("children", []):
        _walk_plan(child, nodes)


def _task_metrics(e: dict) -> dict:
    tm = e.get("Task Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    return {
        "executor_run_ms": tm.get("Executor Run Time", 0),
        "gc_ms": tm.get("JVM GC Time", 0),
        "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
    }


def _id(value) -> int | None:
    return int(value) if value not in (None, "") else None


def parse_event_log(lines) -> EventLog:
    """Parse an uncompressed event log (an iterable of JSON lines)."""
    log = EventLog()

    def add(acc_id, value) -> None:
        try:
            v = float(value)
        except (TypeError, ValueError):  # non-numeric accumulables
            return
        log.acc_values[acc_id] = log.acc_values.get(acc_id, 0.0) + v

    for line in lines:
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            log.jobs[e["Job ID"]] = Job(
                e["Job ID"], _id(props.get(SPAN_PROP)),
                _id(props.get("spark.sql.execution.id")),
                start_ms=e.get("Submission Time", 0),
                stages=list(e.get("Stage IDs", [])))
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(e["Job ID"])
            if job:
                job.end_ms = e.get("Completion Time", job.start_ms)
        elif kind == "SparkListenerTaskEnd":
            agg = log.stage_metrics.setdefault(e["Stage ID"], {})
            for k, v in _task_metrics(e).items():
                agg[k] = agg.get(k, 0) + v
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                add(acc["ID"], acc.get("Update"))
        elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                      _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            _walk_plan(e["sparkPlanInfo"], log.plan_nodes.setdefault(e["executionId"], {}))
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, value in e.get("accumUpdates", []):
                add(acc_id, value)
    return log


def read_event_log(path: str) -> EventLog:
    with open(path) as f:
        return parse_event_log(f)


# ---------------------------------------------------------------------------
# per-span aggregation
# ---------------------------------------------------------------------------
def span_jobs(log: EventLog, span_ids: set[int]) -> list[Job]:
    return [j for j in log.jobs.values() if j.span in span_ids]


def spark_metrics(log: EventLog, jobs: list[Job], wall_s: float, cores: int) -> dict:
    """Jobs, stages run, executor run / GC time, shuffle and spill bytes,
    and slot idle time (wall x cores - executor run time)."""
    tot = {"executor_run_ms": 0, "gc_ms": 0, "shuffle_bytes": 0, "spill_bytes": 0}
    stages = 0
    for j in jobs:
        for sid in j.stages:
            m = log.stage_metrics.get(sid)
            if m is None:  # skipped stage: its shuffle output was reused
                continue
            stages += 1
            for k in tot:
                tot[k] += m.get(k, 0)
    run_s = tot["executor_run_ms"] / 1000.0
    return {
        "jobs": len(jobs),
        "stages": stages,
        "executor_run_s": run_s,
        "gc_s": tot["gc_ms"] / 1000.0,
        "shuffle_bytes": tot["shuffle_bytes"],
        "spill_bytes": tot["spill_bytes"],
        "slot_idle_s": max(0.0, wall_s * cores - run_s),
    }


def executions(jobs: list[Job]) -> list[int]:
    return sorted({j.execution for j in jobs if j.execution is not None})


def node_metrics(log: EventLog, jobs: list[Job]) -> list[tuple[str, str, str, float]]:
    """(node name, node description, metric name, value) for every SQL
    plan-node metric of the executions these jobs belong to. A cached
    plan shows up again under every scan of its cache with the same
    accumulators, so each accumulator is counted once."""
    nodes = {}
    for exe_id in executions(jobs):
        nodes.update(log.plan_nodes.get(exe_id, {}))
    return [(node, desc, metric, log.acc_values[acc_id])
            for acc_id, (node, desc, metric) in nodes.items()
            if acc_id in log.acc_values]


def sum_metric(rows, metric: str, node: str, desc: str = "") -> float:
    """Sum of ``metric`` over nodes whose name contains ``node`` and whose
    description contains ``desc``."""
    return sum(v for n, d, m, v in rows if m == metric and node in n and desc in d)


def covered_s(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, 0.0, None
    for s, e in sorted((max(lo, s), min(hi, e)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(tracer: Tracer, sp: Span) -> float:
    """Span duration minus the part its non-isolated children cover."""
    kids = [(c.start, c.end) for c in tracer.children(sp) if not c.isolated]
    return sp.duration - covered_s(kids, sp.start, sp.end)


def accounted_frac(log: EventLog, tracer: Tracer, sp: Span) -> float:
    """Share of an operation span's wall time covered by its Spark jobs or
    by its child spans."""
    iv = [(j.start_ms / 1000.0, j.end_ms / 1000.0)
          for j in span_jobs(log, tracer.subtree(sp))]
    iv += [(c.start, c.end) for c in tracer.children(sp)]
    return covered_s(iv, sp.start, sp.end) / max(sp.duration, 1e-9)
