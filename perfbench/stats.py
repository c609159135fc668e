"""Order statistics for the benchmark's timings."""

from __future__ import annotations

import math

#: a percentile is reported only when at least this many samples lie beyond it
MIN_TAIL_SAMPLES = 10


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0 < q < 100)."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the interpolation point of the
    ``q``-th percentile (for ``n=100, q=90``: 10)."""
    return n - 1 - math.floor((n - 1) * q / 100)


def reportable(n: int, q: float) -> bool:
    return beyond(n, q) >= MIN_TAIL_SAMPLES

