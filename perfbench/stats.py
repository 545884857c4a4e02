"""Arithmetic the benchmark reports with, kept free of Spark so it can be
unit-tested on synthetic inputs (see test_stats.py)."""

from __future__ import annotations

import math

# candidate tail percentiles, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def _rank(n: int, p: float) -> int:
    """1-based nearest rank of the p-th percentile of n samples (the
    epsilon keeps e.g. 99.9% of 10000 from rounding up past 9990)."""
    return max(1, math.ceil(p / 100.0 * n - 1e-9))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[_rank(len(values), p) - 1]


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def samples_beyond(n: int, p: float) -> int:
    """How many of n samples lie strictly above the nearest-rank p-th
    percentile."""
    return n - _rank(n, p)


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """The highest candidate percentile with at least ``min_beyond``
    samples beyond it, or None when even the median has fewer."""
    for p in TAIL_PERCENTILES:
        if samples_beyond(n, p) >= min_beyond:
            return p
    return None


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clipped(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple]:
    """The intervals cut to the window [lo, hi]; empty pieces dropped."""
    out = []
    for start, end in intervals:
        s, e = max(start, lo), min(end, hi)
        if e > s:
            out.append((s, e))
    return out


def gap(wall: tuple[float, float], busy: list[tuple[float, float]]) -> float:
    """The part of ``wall`` that no busy interval covers (the scheduling
    gap of an action: its wall time minus the union of its stages)."""
    lo, hi = wall
    return (hi - lo) - union_length(clipped(busy, lo, hi))


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per span id: the span's duration minus the part of its
    interval that its direct children cover. Spans are dicts with
    ``id``, ``parent``, ``start`` and ``end``."""
    children: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: gap((s["start"], s["end"]), children.get(s["id"], []))
        for s in spans
    }


def lateness(due: list[float], actual: list[float]) -> list[float]:
    """How late each scheduled send happened (never negative: an early
    send counts as on time)."""
    if len(due) != len(actual):
        raise ValueError("due and actual differ in length")
    return [max(0.0, a - d) for d, a in zip(due, actual)]


def generator_fell_behind(due: list[float], actual: list[float], period: float) -> bool:
    """An open-loop generator fell behind when a send was a whole period
    late: the offered rate was no longer the stated one."""
    return any(x >= period for x in lateness(due, actual))
