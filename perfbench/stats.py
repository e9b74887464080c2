"""Order statistics and the warm-up rule used by the benchmark."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10  # samples that must lie beyond a reported percentile


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank q-th percentile (0 < q <= 100)."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return ordered[rank - 1]


def beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie beyond the nearest-rank q-th
    percentile."""
    return n - max(1, math.ceil(q / 100.0 * n))


def tail_percentile(values: list[float], q: float) -> float | None:
    """The q-th percentile, or None when fewer than ``MIN_BEYOND``
    samples lie beyond it (too few to say anything about that tail)."""
    if beyond(len(values), q) < MIN_BEYOND:
        return None
    return percentile(values, q)


def median(values: list[float]) -> float:
    return statistics.median(values)


def _tail_block(times: list[float], end: int, min_ops: int,
                min_s: float) -> int:
    """Start index of the shortest block ending at ``end`` that holds at
    least ``min_ops`` ops and ``min_s`` seconds of op time (-1: none)."""
    total = 0.0
    for start in range(end - 1, -1, -1):
        total += times[start]
        if end - start >= min_ops and total >= min_s:
            return start
    return -1


def warmed_up(times: list[float], min_ops: int = 2,
              min_s: float = 3.0) -> bool:
    """True once op time has stopped falling: the median of the latest
    block of ops (at least ``min_ops`` ops and ``min_s`` seconds, so
    short ops are judged in blocks of several seconds and long ones two
    at a time) is not below the median of the block before it."""
    last = _tail_block(times, len(times), min_ops, min_s)
    if last <= 0:
        return False
    before = _tail_block(times, last, min_ops, min_s)
    if before < 0:
        return False
    return median(times[last:]) >= median(times[before:last])
