"""Spark-free checks of the benchmark's own pieces: BENCHMARK.json names the
workloads of ``perfbench/workloads.py`` and the per-layer metrics whose
effect ``perfbench/metrics.py`` states, and the order statistics, metric
parsing, span self time and output compare behave.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

import pandas as pd

from perfbench import metrics
from perfbench.oracle import mismatch
from perfbench.stats import tail
from perfbench.trace import Tracer, parse_sql_metric
from perfbench.workloads import WORKLOADS


def test_benchmark_json_matches_the_code():
    bench = metrics.load()
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert [m["name"] for m in bench["per_layer"]] == list(metrics.MOVES)


def test_tail_needs_ten_samples_beyond_it():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    xs = [float(i) for i in range(1, 41)]
    value, pct = tail(xs)
    assert value == 30.0 and pct == 75.0
    assert sum(x > value for x in xs) == 10


def test_parse_sql_metric_totals():
    assert parse_sql_metric("1,000") == 1000.0
    assert parse_sql_metric("total (min, med, max (stageId: taskId))\n5.9 s (1.5 s, 1.5 s, 1.5 s (stage 3.0: task 8))") == 5.9
    assert parse_sql_metric("total (min, med, max)\n8.0 KiB (2.0 KiB, 2.0 KiB, 2.0 KiB)") == 8192.0
    assert parse_sql_metric("250 ms") == 0.25


def test_self_time_subtracts_covered_union():
    t = Tracer()
    root = t.add(None, "run", "r", 0, 100)
    t.add(root, "job", "a", 10, 40)
    t.add(root, "job", "b", 30, 50)  # overlaps a
    t.add(root, "job", "c", 90, 120)  # runs past the parent
    assert t.self_ms()[root] == 100 - 40 - 10


def test_mismatch_is_canonical_and_bitwise():
    a = pd.DataFrame({"y": [2.0, 1.0], "x": ["b", "a"]})
    b = pd.DataFrame({"x": ["a", "b"], "y": [1.0, 2.0]})
    assert mismatch(a, b) is None
    assert mismatch(a, b.assign(y=[1.0, 2.0000000000000004])) is not None
    assert mismatch(pd.DataFrame({"v": [-0.0]}), pd.DataFrame({"v": [0.0]})) is not None
    assert mismatch(pd.DataFrame({"v": [float("nan")]}), pd.DataFrame({"v": [float("nan")]})) is None
