"""Unit tests for the benchmark's own arithmetic, on synthetic inputs
(no Spark):

    python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import pytest

from stats import (
    gap,
    generator_fell_behind,
    lateness,
    median,
    percentile,
    samples_beyond,
    self_times,
    tail_percentile,
    union_length,
)


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))  # 1..100
    assert percentile(xs, 50) == 50
    assert percentile(xs, 95) == 95
    assert percentile(xs, 100) == 100
    assert percentile([7.0], 99) == 7.0
    assert percentile([3, 1, 2], 50) == 2  # order of input does not matter


def test_median_even_and_odd():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 3, 2]) == 2.5


def test_tail_percentile_needs_ten_samples_beyond():
    # p95 of 200 samples leaves exactly 10 beyond it
    assert samples_beyond(200, 95) == 10
    assert tail_percentile(200) == 95.0
    # one sample fewer and p95 leaves only 9: fall back to p90
    assert samples_beyond(199, 95) == 9
    assert tail_percentile(199) == 90.0
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(10_000) == 99.9
    assert tail_percentile(20) == 50.0
    assert tail_percentile(19) is None


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3)]) == 3.0  # overlap counted once
    assert union_length([(0, 10), (2, 3), (4, 5)]) == 10.0  # nested
    assert union_length([(5, 6), (0, 1), (0.5, 2)]) == 3.0  # unsorted input
    assert union_length([(1, 1), (3, 2)]) == 0.0  # empty and inverted ignored


def test_gap_is_wall_minus_covered_part():
    # two clients' stages overlap inside one action's wall time
    assert gap((0, 10), [(1, 4), (3, 6)]) == pytest.approx(5.0)
    # stages reaching outside the action only count inside it
    assert gap((0, 10), [(-5, 2), (9, 20)]) == pytest.approx(7.0)
    assert gap((0, 10), []) == 10.0


def test_self_time_subtracts_direct_children_only():
    spans = [
        {"id": "op", "parent": None, "start": 0.0, "end": 10.0},
        {"id": "build", "parent": "op", "start": 0.0, "end": 3.0},
        {"id": "action", "parent": "op", "start": 3.0, "end": 10.0},
        {"id": "s1", "parent": "action", "start": 4.0, "end": 6.0},
        {"id": "s2", "parent": "action", "start": 5.0, "end": 8.0},
    ]
    st = self_times(spans)
    assert st["op"] == pytest.approx(0.0)
    assert st["build"] == pytest.approx(3.0)
    assert st["action"] == pytest.approx(3.0)  # 7 s wall, stages cover 4..8
    assert st["s1"] == pytest.approx(2.0)


def test_generator_lateness():
    due = [0.0, 1.0, 2.0, 3.0]
    sent = [0.01, 0.99, 2.5, 3.2]
    assert lateness(due, sent) == pytest.approx([0.01, 0.0, 0.5, 0.2])
    assert not generator_fell_behind(due, sent, period=1.0)
    assert generator_fell_behind(due, [0.0, 1.0, 3.0, 3.0], period=1.0)
    with pytest.raises(ValueError):
        lateness([0.0], [])
