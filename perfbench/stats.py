"""Summaries of per-operation samples."""

from __future__ import annotations

import math
import statistics


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[float, float, int]:
    """(value, level, n): the highest order statistic that still has at
    least ten samples above it, the share of samples at or below it, and
    the sample count (the maximum when there are ten or fewer)."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return (s[-1] if s else 0.0), 1.0, n
    return s[n - 11], (n - 10) / n, n


def per_pass(records, key) -> float:
    """Median over passes of the per-pass sum of ``key``."""
    sums: dict[int, float] = {}
    for r in records:
        sums[r["pass"]] = sums.get(r["pass"], 0.0) + r.get(key, 0.0)
    return median(list(sums.values()))


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0
