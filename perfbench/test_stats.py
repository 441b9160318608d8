"""Self-tests for the benchmark's own statistics, failure accounting and
self-time attribution.

    python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import contextlib
import math
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402
from runner import Op, Tally, run_op, timed_passes, warm_pass  # noqa: E402


def no_span(layer, name):
    return contextlib.nullcontext()


def no_group(tag):
    pass


@pytest.mark.parametrize(
    "n, pct, rank",
    [
        (11, 9, 1),     # the smallest sample still has 10 above it
        (20, 50, 10),
        (100, 90, 90),
        (1000, 99, 990),  # capped at p99 even with 10+ beyond higher ones
    ],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, pct, rank):
    xs = [float(i) for i in range(1, n + 1)]
    value, p, beyond = stats.tail(xs[::-1])  # order must not matter
    assert (value, p, beyond) == (float(rank), pct, n - rank)
    assert beyond >= stats.TAIL_BEYOND
    # one percentile higher would leave fewer than ten beyond it
    if p < 99:
        assert n - math.ceil((p + 1) * n / 100) < stats.TAIL_BEYOND


def test_tail_of_short_run_reports_max_with_nothing_beyond():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100, 0)
    assert stats.tail([1.0] * 10) == (1.0, 100, 0)


def test_geomean():
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert stats.geomean([2.0, 2.0, 2.0]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        stats.geomean([])


def test_geomean_weighs_each_kind_once():
    # kind a: median 2 of three samples; kind b: one sample of 8
    by_kind = {"a": [1.0, 3.0, 2.0], "b": [8.0]}
    assert stats.geomean_of_medians(by_kind) == pytest.approx(4.0)


def _op(kind, result, expected):
    return Op(kind, "read", lambda: result,
              lambda r: None if r == expected else f"got {r}, want {expected}")


def test_wrong_result_counts_as_failed_and_has_no_latency():
    t = Tally()
    run_op(_op("good", 4, 4), t, no_span)
    run_op(_op("bad", 5, 4), t, no_span)
    assert (t.attempted, t.failed) == (2, 1)
    assert t.failures == [("bad", "got 5, want 4")]
    assert list(t.latencies) == ["good"]
    assert stats.failed_frac(t.attempted, t.failed) == 0.5


def test_raising_op_counts_as_failed():
    def boom():
        raise RuntimeError("disk full")

    t = Tally()
    run_op(Op("boom", "write", boom, lambda r: None), t, no_span)
    assert (t.attempted, t.failed) == (1, 1)
    assert "disk full" in t.failures[0][1]


def test_wrong_result_in_check_pass_counts_as_failed():
    checks = Tally()
    ops = [_op("a", 1, 1), Op("b", "read", None, None, first=lambda: "hash differs")]
    warm_pass(ops, [0, 1], checks, no_group)
    assert (checks.attempted, checks.failed) == (2, 1)


def test_failed_ops_stay_in_the_mix():
    t = Tally()
    ops = [_op("good", 1, 1), _op("bad", 2, 1)]
    passes, _ = timed_passes(ops, np.random.default_rng(0), 0.0, 1, t, no_span, no_group)
    assert passes == 1
    assert (t.attempted, t.failed) == (2, 1)
    passes, _ = timed_passes(ops, np.random.default_rng(0), 0.0, 2, t, no_span, no_group)
    assert passes == 2
    assert (t.attempted, t.failed) == (6, 3)


def test_self_time_subtracts_child_spans_and_jobs():
    from tracing import EventLog, Job, Span, attribute

    spans = [
        Span(0, None, "op", "q", 0.0, 10.0),
        Span(1, 0, "queries", "q", 0.0, 6.0),
        Span(2, 1, "operators.dedup", "f", 1.0, 5.0),
        Span(3, 2, "operators.etl", "g", 2.0, 3.0),
        Span(4, 0, "spark.exec", "q", 6.0, 10.0),
    ]
    log = EventLog()
    log.jobs = {1: Job(1, 2.5, 2.9, []), 2: Job(2, 7.0, 9.0, [])}
    m = attribute(spans, log, 0.0, 10.0)
    assert m["queries.self_s"] == pytest.approx(2.0)
    # dedup 4 s minus its nested etl call; etl 1 s minus its job
    assert m["operators.self_s"] == pytest.approx(3.0 + 0.6)
    # a nested call of the same layer is not counted twice
    assert m["operators.call_s"] == pytest.approx(4.0)
    # job time plus the action's own time outside its job
    assert m["spark.exec_s"] == pytest.approx(2.4)
    assert m["spark.exec.self_s"] == pytest.approx(2.4 + 2.0)
    # the job submitted inside etl counts for every layer on its path
    assert m["operators.etl.jobs"] == m["operators.dedup.jobs"] == m["queries.jobs"] == 1
    assert m["spark.jobs"] == 2


def test_package_root_calls_count_once_per_layer():
    from tracing import EventLog, Span, attribute, layer_of

    assert layer_of("dataflowex_spark.plans") == "plans"
    spans = [
        Span(0, None, "op", "q", 0.0, 10.0),
        Span(1, 0, "plans", "formatted_plan", 1.0, 5.0),
        Span(2, 1, "plans.mv", "f", 2.0, 4.0),
        Span(3, 2, "plans", "g", 2.5, 3.0),
    ]
    m = attribute(spans, EventLog(), 0.0, 10.0)
    assert m["plans.call_s"] == pytest.approx(4.0)
    assert m["plans.calls"] == 1
    assert m["plans.mv.call_s"] == pytest.approx(2.0)


def test_throughput_leaves_out_the_checks():
    import time

    from child import end_to_end

    def slow_check(out):
        time.sleep(0.05)

    t = Tally()
    op = Op("k", "read", lambda: time.sleep(0.01), slow_check)
    _, wall = timed_passes([op], np.random.default_rng(0), 0.0, 5, t, no_span, no_group)
    lat = t.all_latencies()
    opm = end_to_end(t, 1.0)["ops_per_min"]
    assert opm == pytest.approx(len(lat) / sum(lat) * 60.0)
    assert opm > 2 * len(lat) / wall * 60.0
