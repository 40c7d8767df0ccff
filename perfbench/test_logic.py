"""Tests of the benchmark's own logic; pure Python, no Spark.

    python3 -m pytest perfbench -q
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pytest  # noqa: E402

from clock import OpClock  # noqa: E402
from compare import comparable  # noqa: E402
from stats import Span, Tally, geomean, layer_sums, self_times, tail  # noqa: E402
from workloads import WORKLOADS, query_order, session_order  # noqa: E402


def test_tail_needs_ten_samples_beyond():
    assert tail(list(range(10))) is None
    t = tail([float(i) for i in range(1, 21)])  # 20 samples: p50 has 10 beyond
    assert (t.percentile, t.value, t.beyond, t.samples) == (50.0, 10.0, 10, 20)


def test_tail_picks_highest_supported_percentile():
    vals = [float(i) for i in range(1, 201)]  # 200 samples
    t = tail(vals)
    assert t.percentile == 95.0  # p99 leaves 2 beyond, p95 leaves 10
    assert (t.value, t.beyond, t.samples) == (190.0, 10, 200)
    t = tail(vals * 10)  # 2000 samples: p99.9 leaves 2, p99 leaves 20
    assert (t.percentile, t.beyond) == (99.0, 20)


def test_self_time_nested_spans():
    spans = [
        Span(0, "root", 0.0, 10.0, None),
        Span(1, "child", 1.0, 4.0, 0),
        Span(2, "grandchild", 2.0, 3.0, 1),
    ]
    assert self_times(spans) == {0: 7.0, 1: 2.0, 2: 1.0}


def test_self_time_overlapping_and_protruding_children():
    spans = [
        Span(0, "root", 0.0, 10.0, None),
        Span(1, "a", 1.0, 5.0, 0),
        Span(2, "b", 3.0, 7.0, 0),  # overlaps a: union is 1..7
        Span(3, "c", 9.0, 12.0, 0),  # sticks out: only 9..10 counts
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_layer_sums_per_name():
    spans = [
        Span(0, "serve.view", 0.0, 4.0, None),
        Span(1, "cache.load", 1.0, 2.0, 0),
        Span(2, "serve.view", 5.0, 6.0, None),
    ]
    sums = layer_sums(spans)
    assert sums["serve.view"] == {"calls": 2, "total_s": 5.0, "self_s": 4.0}
    assert sums["cache.load"]["calls"] == 1


def test_seed_reproduces_query_order():
    qs = WORKLOADS["batch"].queries
    assert query_order(qs, 7, 0) == query_order(qs, 7, 0)
    assert sorted(query_order(qs, 7, 3)) == sorted(qs)
    orders = {tuple(query_order(qs, s, 0)) for s in range(20)}
    assert len(orders) > 1


def test_seed_reproduces_explore_walk():
    sessions = WORKLOADS["explore_session"].sessions
    assert session_order(sessions, 3) == session_order(sessions, 3)
    assert sorted(session_order(sessions, 3)) == sorted(sessions)
    assert len({tuple(session_order(sessions, s)) for s in range(20)}) > 1


def test_fail_ratio_accounting():
    t = Tally()
    assert t.fail_ratio == 0.0
    for ok in (True, True, False, True):
        t.record(ok)
    assert (t.attempted, t.failed, t.fail_ratio) == (4, 1, 0.25)


def test_geomean():
    assert geomean([1.0, 4.0]) == pytest.approx(2.0)


def test_compare_refuses_other_hosts():
    a = {"nproc": 4, "sf": 0.01, "spark": "4.1.2", "java": "17", "python": "3.11",
         "workload": "batch", "seed": 1, "trace": 0, "run_seconds": 15}
    assert comparable(a, {**a, "seed": 2}) == []
    assert comparable(a, {**a, "nproc": 32}) == ["nproc"]


def test_op_clock_counts_cpu_of_another_process_but_not_waiting():
    import subprocess
    import time

    # a child stands in for the JVM: it spins for 0.3 s, then sleeps
    spin = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\ntime.sleep(2)"
    child = subprocess.Popen([sys.executable, "-c", spin])
    try:
        clock = OpClock(child.pid)
        started = clock.start()
        time.sleep(0.8)
        wall, cpu = clock.stop(started)
    finally:
        child.kill()
        child.wait()
    assert wall >= 0.8
    assert 0.2 < cpu < 0.5
