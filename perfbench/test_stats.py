"""Unit tests for the benchmark's statistics helpers.

    python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def test_geomean_of_medians_weighs_groups_equally():
    groups = {"fast": [1.0, 1.0, 100.0], "slow": [100.0, 100.0, 100.0, 1.0,
                                                  100.0]}
    assert stats.geomean_of_medians(groups) == pytest.approx(10.0)
    # a group's sample count does not change its weight
    more = {"fast": [1.0] * 50, "slow": [100.0]}
    assert stats.geomean_of_medians(more) == pytest.approx(10.0)


def test_pooled_median_falls_in_gap_but_geomean_does_not():
    # two shapes, two samples each: a pooled median would sit between them
    groups = {"a": [200.0, 210.0], "b": [400.0, 410.0]}
    g = stats.geomean_of_medians(groups)
    assert g == pytest.approx(math.sqrt(205.0 * 405.0))
    groups["a"].append(205.0)  # one more sample of 'a' leaves it unchanged
    assert stats.geomean_of_medians(groups) == pytest.approx(g)


def _span(sid, name, start, end, parent=None):
    return {"id": sid, "name": name, "start": start, "end": end,
            "parent": parent}


def test_self_time_subtracts_children():
    spans = [_span(1, "root", 0.0, 10.0),
             _span(2, "child", 1.0, 4.0, 1),
             _span(3, "child", 6.0, 7.0, 1),
             _span(4, "leaf", 2.0, 3.0, 2)]
    st = stats.self_times(spans)
    assert st["root"] == pytest.approx(6.0)
    assert st["child"] == pytest.approx(2.0 + 1.0)
    assert st["leaf"] == pytest.approx(1.0)
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_merges_overlapping_children_and_clips():
    # children on other threads may overlap each other or outlive the parent
    spans = [_span(1, "root", 0.0, 10.0),
             _span(2, "a", 1.0, 5.0, 1),
             _span(3, "b", 4.0, 6.0, 1),
             _span(4, "c", 9.0, 12.0, 1)]
    assert stats.self_times(spans)["root"] == pytest.approx(10.0 - 5.0 - 1.0)
