"""The event-log roll-up, on a small log recorded from a traced session.

The recording holds one warm-up span and one pass. In the pass, query
``agg`` runs an eager ``count`` while it is built, then a grouped
``collect``; a parquet write follows. The log keeps the four event
kinds the roll-up reads, with accumulables stripped.
"""

from __future__ import annotations

import json
import math
import os

import pytest

from perfbench import trace

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@pytest.fixture(scope="module")
def recorded():
    events = trace.load_event_log(DATA, "local-test")
    with open(os.path.join(DATA, "spans.json")) as fh:
        spans = [trace.Span(n, t0, t1) for n, t0, t1 in json.load(fh)]
    (pass_span,) = [s for s in spans if s.name == "pass:0"]
    return events, spans, pass_span


def test_gap_plus_busy_is_the_wall(recorded):
    events, spans, pass_span = recorded
    m = trace.rollup(events, spans, pass_span, cores=2)
    assert math.isclose(
        m["spark.driver_gap_s"] + m["spark.job_busy_s"], pass_span.seconds, abs_tol=1e-9
    )
    assert 0 < m["spark.job_busy_s"] <= pass_span.seconds


def test_jobs_are_attributed_to_their_spans(recorded):
    events, spans, pass_span = recorded
    m = trace.rollup(events, spans, pass_span, cores=2)
    jobs = [j for j in trace.jobs_of(events).values() if "perfbench:pass:0" in j.tags]
    assert m["spark.jobs"] == len(jobs) > 0
    assert m["spark.unattributed_jobs"] == 0
    # the eager count ran while the query was being built
    assert m["plans.probe_jobs"] >= 1
    assert all("perfbench:q:agg" in j.tags for j in jobs if "perfbench:build" in j.tags)
    # the warm-up's jobs are not the pass's
    warm = [j for j in trace.jobs_of(events).values() if "perfbench:warmup" in j.tags]
    assert warm and not {j.id for j in warm} & {j.id for j in jobs}


def test_call_sites_name_the_issuing_line(recorded):
    events, _, _ = recorded
    sites = [j.call_site for j in trace.jobs_of(events).values()]
    assert any(s.startswith("count at ") for s in sites)
    assert any(s.startswith("parquet at ") for s in sites)


def test_layer_spans_and_task_totals(recorded):
    events, spans, pass_span = recorded
    m = trace.rollup(events, spans, pass_span, cores=2)
    inner = {s.name: s.seconds for s in spans if s.name in ("build", "action", "write")}
    assert m["plans.build_s"] == pytest.approx(inner["build"])
    assert m["plans.action_s"] == pytest.approx(inner["action"])
    assert m["sources.write_s"] == pytest.approx(inner["write"])
    assert m["spark.tasks"] >= m["spark.stages"] >= m["spark.jobs"] > 0
    assert m["spark.failed_tasks"] == 0
    assert m["spark.shuffle_write_bytes"] > 0
    assert 0 < m["spark.core_util"] <= 1


def test_union_of_overlapping_intervals():
    assert trace._union_ms([]) == 0
    assert trace._union_ms([(0, 10), (5, 15), (20, 25)]) == 20
    assert trace._union_ms([(0, 10), (2, 3)]) == 10


def test_median_over_passes():
    rows = [{"a": 1.0, "b": 9}, {"a": 3.0, "b": 1}, {"a": 2.0, "b": 5}]
    assert trace.median_metrics(rows) == {"a": 2.0, "b": 5}


def test_module_of_call_site():
    site = "collect at /x/parcel_analytics_etl_notebook_spark/operators/graph.py:88"
    assert trace._module_of(site) == "operators.graph"
    assert trace._module_of("save at NativeMethodAccessorImpl.java:0") is None
