"""Order statistics and interval arithmetic used by the benchmark."""

from __future__ import annotations

import math
import statistics


def median(values) -> float:
    return float(statistics.median(values))


def spread(values) -> dict:
    """Median, quartiles and (q3 - q1) / median, with the quartiles exactly
    as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def union_length(intervals, lo: float = -math.inf,
                 hi: float = math.inf) -> float:
    """Total length covered by ``intervals`` (pairs ``(start, end)``) after
    clipping each to ``[lo, hi]``; overlaps count once."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: tuple, children) -> float:
    """A span's duration minus the part of its interval its children
    cover."""
    s, e = span
    return (e - s) - union_length(children, s, e)
