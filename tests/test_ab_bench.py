"""The gain and regression rules of tools/ab_bench.py's perfbench mode."""

import importlib.util
import os

import pytest

_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "ab_bench.py")
_spec = importlib.util.spec_from_file_location("ab_bench", _PATH)
ab_bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab_bench)

PARENT = [1.0, 1.1, 1.2, 1.3, 1.4, 1.5, 1.6, 1.7, 1.8, 1.9]


def test_nine_of_ten_wins_beyond_the_iqr_is_a_gain():
    change = [p - 0.6 for p in PARENT[:9]] + [PARENT[9] + 0.1]
    r = ab_bench.compare_pairs(PARENT, change, "lower", 0.24)
    assert r["wins"] == 9 and r["pairs"] == 10
    assert r["parent_median"] == pytest.approx(1.45)
    assert r["parent_iqr"] == pytest.approx(r["parent_q3"] - r["parent_q1"])
    assert r["parent_median"] - r["change_median"] > r["parent_iqr"]
    assert r["gain"] and r["within_bound"]


def test_ties_count_for_neither_and_a_small_gap_is_no_gain():
    change = list(PARENT[:2]) + [p - 0.05 for p in PARENT[2:]]
    r = ab_bench.compare_pairs(PARENT, change, "lower", 0.24)
    assert r["wins"] == 8
    assert not r["gain"]


def test_higher_is_better_and_the_bound():
    worse = [p * 0.7 for p in PARENT]  # 30% lower on a higher-is-better metric
    r = ab_bench.compare_pairs(PARENT, worse, "higher", 0.24)
    assert r["wins"] == 0 and not r["gain"]
    assert r["within_bound"] is False
    assert ab_bench.compare_pairs(PARENT, PARENT, "lower", None)["within_bound"] is None
