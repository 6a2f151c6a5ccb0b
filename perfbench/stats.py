"""Summary statistics shared by the benchmark.

Kept free of Spark imports so the self-tests run without a JVM.
"""

from __future__ import annotations

import statistics

def iqr_share(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, the way the acceptance check computes a metric's spread."""
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def spread(values: list[float]) -> float:
    """(max - min) / median: how far a counter that should repeat moved."""
    mid = statistics.median(values)
    return (max(values) - min(values)) / mid if mid else 0.0


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
