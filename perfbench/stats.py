"""Percentiles with their sample counts."""

from __future__ import annotations

import math
import statistics

TAIL_CANDIDATES = (99, 95, 90, 75, 50)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``% of
    the samples at or below it."""
    s = sorted(values)
    return s[max(math.ceil(p / 100.0 * len(s)), 1) - 1]


def beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank ``p``-th percentile of ``n``."""
    return n - max(math.ceil(p / 100.0 * n), 1)


def tail_percentile(n: int) -> int | None:
    """The highest candidate percentile with ``MIN_BEYOND`` samples beyond
    it, or None when even the median has fewer."""
    for p in TAIL_CANDIDATES:
        if beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def summary(values: list[float]) -> dict:
    """Median and tail of ``values`` with the sample count behind each."""
    out: dict = {"n": len(values)}
    if not values:
        return out
    out["p50"] = statistics.median(values)
    tail = tail_percentile(len(values))
    if tail is not None:
        out["tail_pct"] = tail
        out[f"p{tail}"] = percentile(values, tail)
    return out
