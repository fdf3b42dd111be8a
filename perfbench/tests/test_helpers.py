"""Tests for the benchmark's pure helpers (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import pytest  # noqa: E402

import stats  # noqa: E402
from stats import Span  # noqa: E402

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")


@pytest.mark.parametrize(
    "n, pct, beyond",
    [(200, 95.0, 10), (100, 90.0, 10), (99, 75.0, 24), (40, 75.0, 10), (25, 50.0, 12), (20, 50.0, 10)],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, pct, beyond):
    got_pct, value, got_beyond = stats.tail(list(range(1, n + 1)))
    assert (got_pct, got_beyond) == (pct, beyond)
    # nearest rank: exactly `beyond` samples lie above the reported value
    assert sum(1 for x in range(1, n + 1) if x > value) == beyond


def test_best_times_takes_each_querys_fastest_sample():
    records = [
        {"query": "a", "s": 2.0},
        {"query": "b", "s": 5.0},
        {"query": "a", "s": 1.5},
        {"query": "b"},  # failed: no time
        {"query": "a", "s": 3.0},
    ]
    assert stats.best_times(records) == {"a": 1.5, "b": 5.0}
    assert stats.best_times([{"query": "c"}]) == {}


def test_tail_without_enough_samples_is_the_maximum():
    assert stats.tail([3.0, 1.0, 2.0]) == (100.0, 3.0, 0)
    assert stats.tail([float(x) for x in range(19)]) == (100.0, 18.0, 0)
    with pytest.raises(ValueError):
        stats.tail([])


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span("bench.pass", 0.0, 10.0, 1, None, None),
        Span("plans.build", 1.0, 3.0, 2, 1, "q"),
        Span("exec.materialize", 2.0, 5.0, 3, 1, "q"),  # overlaps its sibling
        Span("sources.load_table", 1.5, 2.5, 4, 2, "q"),
        Span("streaming.batch", 9.0, 12.0, 5, 1, "q"),  # runs past its parent
    ]
    own = stats.self_times(spans)
    assert own[1] == pytest.approx(10.0 - 4.0 - 1.0)
    assert own[2] == pytest.approx(1.0)
    assert own[3] == pytest.approx(3.0)
    assert own[4] == pytest.approx(1.0)
    layers = stats.layer_self_times(spans)
    assert layers == pytest.approx({"bench": 5.0, "plans": 1.0, "exec": 3.0, "sources": 1.0, "streaming": 3.0})


def test_pass_order_is_a_seeded_permutation():
    names = [f"q{i}" for i in range(12)]
    a = stats.pass_order(names, 7, 1)
    assert a == stats.pass_order(names, 7, 1)
    assert sorted(a) == sorted(names)
    assert len({tuple(stats.pass_order(names, 7, p)) for p in range(5)}) > 1
    assert stats.pass_order(names, 8, 1) != a


def test_cut_points_are_seeded_interior_and_jittered():
    cuts = stats.cut_points(1000, 4, 3, "events")
    assert cuts == stats.cut_points(1000, 4, 3, "events")
    assert len(cuts) == 3 and list(cuts) == sorted(cuts)
    assert all(0 < c < 1000 for c in cuts)
    assert all(abs(c - k * 250) <= 63 for k, c in zip((1, 2, 3), cuts))
    assert len({stats.cut_points(1000, 4, s, "events") for s in range(10)}) > 1
    with pytest.raises(ValueError):
        stats.cut_points(5, 4, 3, "events")


def test_parse_metric_units():
    assert stats.parse_metric("1,234", "sum") == 1234
    assert stats.parse_metric("total (min, med, max (stageId: taskId))\n1.5 KiB (0.0 B, 2 B, 3 B)", "size") == 1536
    assert stats.parse_metric("2.5 s", "timing") == 2500
    assert stats.parse_metric("total (min, med, max)\n120 ms (1 ms, 2 ms, 3 ms)", "nsTiming") == 120


def test_metric_names_match_and_the_runner_emits_exactly_them():
    import probe
    import run
    from spans import Tracer

    with open(BENCHMARK_JSON) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    assert all(stats.valid_metric_name(n) for n in names)
    assert all(stats.valid_metric_name(w["name"]) for w in bench["workloads"])
    assert probe.parse_plan_metric("SQLPlanMetric(number of output rows,42,sum)") == (
        "number of output rows", 42, "sum")

    rec = {
        "query": "q", "ok": True, "s": 1.0, "build_s": 0.4, "exec_s": 0.6,
        "batches": [], "sql": {}, "build": {"jobs": 1}, "exec": {"jobs": 1, "stages": 2, "tasks": 3},
    }
    passes = [{"records": [rec], "wall_s": 1.0, "cpu_s": 2.0}]
    setup = {"setup_s": 1.0, "get_spark_s": 0.5}
    e2e, _ = run.end_to_end(passes, setup, 1024)
    layer, _ = run.per_layer(passes, setup, Tracer(), passes)
    assert list(e2e) == [m["name"] for m in bench["end_to_end"]]
    assert sorted(layer) == sorted(m["name"] for m in bench["per_layer"])
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    assert all(units[k] == u for k, (_, u) in {**e2e, **layer}.items())
