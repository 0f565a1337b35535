"""Event-log parser and span accounting, on a tiny recorded log.

``data/tiny_eventlog.json`` is an uncompressed Spark 4.1 event log of one
traced span tree -- ``op.tiny`` (span 0) with child span 1, which wrote
``range(1000)`` grouped by ``id % 10`` to the noop sink -- followed by an
untagged ``count()``. Only the events and fields the parser reads are kept.
"""

import os

import pytest

from perfbench import tracing as tr

LOG = os.path.join(os.path.dirname(__file__), "data", "tiny_eventlog.json")


@pytest.fixture(scope="module")
def log():
    return tr.read_event_log(LOG)


def test_jobs_carry_their_span(log):
    tagged = tr.span_jobs(log, {0, 1})
    assert len(tagged) == 2
    assert {j.span for j in tagged} == {1}
    untagged = [j for j in log.jobs.values() if j.span is None]
    assert untagged and all(j.execution is not None for j in untagged)
    assert all(j.end_ms >= j.start_ms > 0 for j in log.jobs.values())


def test_spark_metrics_of_a_span(log):
    m = tr.spark_metrics(log, tr.span_jobs(log, {0, 1}), wall_s=1.0, cores=4)
    assert set(m) == {"jobs", "stages", "executor_run_s", "gc_s", "shuffle_bytes",
                      "spill_bytes", "slot_idle_s"}
    assert m["jobs"] == 2 and m["stages"] == 2
    assert m["executor_run_s"] > 0
    assert m["shuffle_bytes"] > 0
    assert m["spill_bytes"] == 0
    assert m["slot_idle_s"] == pytest.approx(4.0 - m["executor_run_s"])


def test_plan_node_metrics(log):
    rows = tr.node_metrics(log, tr.span_jobs(log, {1}))
    assert tr.sum_metric(rows, "number of output rows", "Range") == 1000
    # partial aggregate: 10 keys in each of 4 splits; final: 10 keys
    assert tr.sum_metric(rows, "number of output rows", "HashAggregate",
                         "partial_count") == 40
    assert tr.sum_metric(rows, "number of output rows", "HashAggregate",
                         "functions=[count(1)]") == 10
    assert tr.sum_metric(rows, "shuffle records written", "Exchange") == 40


def test_parser_skips_unknown_events():
    log = tr.parse_event_log(['{"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"}'])
    assert not log.jobs and not log.plan_nodes


def test_covered_and_self_time():
    assert tr.covered_s([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert tr.covered_s([(0, 2), (8, 12)], 1, 10) == 3
    assert tr.covered_s([], 0, 1) == 0

    t = tr.Tracer(enabled=True)  # records spans; no SparkContext to tag
    with t.span("op") as op:
        with t.span("a") as a:
            pass
        with t.span("iso", isolated=True):
            pass
    a.start, a.end = 1.0, 3.0
    op.start, op.end = 0.0, 10.0
    iso = t.spans[2]
    iso.start, iso.end = 4.0, 9.0
    assert iso.isolated and iso.parent == op.id
    assert t.subtree(op) == {0, 1, 2}
    # isolated children are left out of self time
    assert tr.self_time(t, op) == pytest.approx(8.0)


def test_disabled_tracer_only_times():
    t = tr.Tracer()
    with t.span("x") as sp:
        pass
    assert sp.duration >= 0 and t.spans == []
