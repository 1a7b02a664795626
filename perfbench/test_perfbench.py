"""Unit tests of the benchmark's own arithmetic (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from measure import covered, tail, with_self_times  # noqa: E402


def _span(i, parent, start, end):
    return {"id": i, "name": f"s{i}", "parent": parent, "rid": "r", "start": start, "end": end}


def test_self_time_subtracts_children():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 3.0), _span(2, 0, 5.0, 6.0)]
    got = {s["id"]: s["self"] for s in with_self_times(spans)}
    assert got == {0: 7.0, 1: 2.0, 2: 1.0}


def test_self_time_counts_overlapping_children_once():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 5.0), _span(2, 0, 4.0, 6.0)]
    assert with_self_times(spans)[0]["self"] == 5.0


def test_self_time_clips_children_to_parent_and_ignores_grandchildren():
    spans = [_span(0, None, 2.0, 8.0), _span(1, 0, 0.0, 3.0), _span(2, 1, 0.5, 2.5),
             _span(3, 0, 7.0, 9.0)]
    got = {s["id"]: s["self"] for s in with_self_times(spans)}
    assert got[0] == 4.0  # 6 s minus [2,3] and [7,8]
    assert got[1] == 1.0  # 3 s minus its child's 2 s


def test_covered_merges_touching_intervals():
    assert covered([(0, 1), (1, 2), (5, 7)], 0, 6) == 3


def test_tail_picks_highest_percentile_with_ten_beyond():
    xs = list(range(1, 41))  # 40 samples: p75 leaves exactly 10 beyond
    assert tail(xs) == (30, 75.0)
    xs = list(range(1, 1001))  # p99 leaves 10 beyond
    assert tail(xs) == (990, 99.0)
    assert tail(list(range(1, 11)))[1] == 50.0  # too few: falls back to p50
