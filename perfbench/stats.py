"""Order statistics used by the benchmark's metrics."""

from __future__ import annotations

import math


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least q% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[max(1, math.ceil(q / 100.0 * len(s))) - 1]


def beyond(n: int, q: float) -> int:
    """How many of n samples lie strictly above the nearest-rank q-th
    percentile."""
    return n - max(1, math.ceil(q / 100.0 * n))


def tail_percentile(values: list[float], q: float, min_beyond: int = 10) -> float | None:
    """The q-th percentile, or None when fewer than ``min_beyond``
    samples lie beyond it (too few for the tail to mean anything)."""
    if beyond(len(values), q) < min_beyond:
        return None
    return percentile(values, q)

