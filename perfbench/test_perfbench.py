"""Tests for the benchmark's own helpers; no Spark session is started.

    python3 -m pytest perfbench/test_perfbench.py -q

Run it from the root of a checkout.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import report  # noqa: E402
import stats  # noqa: E402
from logcheck import LogChecker  # noqa: E402


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile(xs, 99) == 99
    assert stats.percentile([7.0], 99) == 7.0
    assert stats.percentile([3, 1, 2], 50) == 2
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize(
    "n, want",
    [(9, None), (99, None), (100, 90), (999, 90), (1000, 99), (5000, 99)],
)
def test_tail_needs_ten_samples_beyond(n, want):
    xs = [float(i) for i in range(n)]
    got = stats.tail(xs)
    if want is None:
        assert got is None
    else:
        q, value = got
        assert q == want
        assert stats.beyond(n, q) >= 10
        assert sum(x > value for x in xs) == stats.beyond(n, q)


def test_latency_rows_carry_the_sample_count():
    rows = report._latency("produce", [i / 1000 for i in range(1, 151)])
    assert rows[0] == ("produce_p50_ms", pytest.approx(75.0), "ms", 150)
    name, value, unit, n = rows[1]
    assert (name, unit, n) == ("produce_p90_ms", "ms", 150)
    assert value == pytest.approx(135.0)
    few = report._latency("consume", [0.001] * 20)
    assert few[1] == ("consume_p99_ms", None, "ms", 20)


def test_median():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 3, 2]) == 2.5


def test_self_time_subtracts_merged_children():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 3.0},
        {"id": 3, "parent": 1, "start": 2.0, "end": 5.0},  # overlaps span 2
        {"id": 4, "parent": 1, "start": 8.0, "end": 12.0},  # runs past its parent
        {"id": 5, "parent": 2, "start": 1.5, "end": 2.5},  # a grandchild
    ]
    selfs = stats.self_times(spans)
    assert selfs[1] == pytest.approx(10.0 - 4.0 - 2.0)
    assert selfs[2] == pytest.approx(2.0 - 1.0)
    assert selfs[3] == pytest.approx(3.0)
    assert selfs[4] == pytest.approx(4.0)
    assert selfs[5] == pytest.approx(1.0)


def _checker() -> LogChecker:
    c = LogChecker()
    c.preloaded(0, ["a", "b", "c"])
    return c


def test_log_checker_accepts_a_right_run():
    c = _checker()
    c.acked(4, "e")
    c.acked(3, "d")
    assert c.density(3) == 0
    assert c.read(4, 4, "e") and c.read(1, 1, "b")
    assert c.tail_order([3, 4], 3) == 0
    assert c.bounds(5) == 0
    assert c.errors == []


def test_log_checker_catches_a_duplicated_offset():
    c = _checker()
    c.acked(3, "d")
    c.acked(3, "e")
    assert c.density(3) > 0
    assert any("twice" in e for e in c.errors)


def test_log_checker_catches_a_missing_offset():
    c = _checker()
    c.acked(3, "d")
    c.acked(5, "f")
    assert c.density(3) == 1
    assert c.bounds(6) == 1  # 3 preloaded + 2 produced


def test_log_checker_catches_a_wrong_payload():
    c = _checker()
    c.acked(3, "d")
    assert not c.read(3, 3, "x")
    assert not c.read(2, 3, "d")  # right bytes, wrong offset
    assert c.tail_order([3, 5], 3) == 1


def test_metric_names_match_the_contract():
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert all(stats.METRIC_NAME.fullmatch(n) for n in names)
    assert len(names) == len(set(names))
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == report.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == report.PER_LAYER
