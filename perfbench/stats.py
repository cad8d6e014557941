"""Percentiles and the sample-count rule used by every reported timing."""

from __future__ import annotations

import math
import statistics

# a percentile is supported only with at least this many samples beyond it
MIN_TAIL_SAMPLES = 10


def percentile(values, p: float) -> float:
    """Linear-interpolation percentile (numpy's default method), stdlib only."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def cycle_median(samples, cycle: int) -> float:
    """Median over consecutive groups of ``cycle`` samples, each group summed
    (the time of one cycle of an operation mix); ``cycle=1`` is the plain
    median."""
    return statistics.median(
        sum(samples[i:i + cycle]) for i in range(0, len(samples), cycle))


def min_samples(p: float) -> int:
    """Samples needed for percentile ``p`` to have MIN_TAIL_SAMPLES beyond it
    (p90 needs 100, p50 needs 20)."""
    return math.ceil(MIN_TAIL_SAMPLES / (1.0 - p / 100.0) - 1e-9)


def supported(n: int, p: float) -> bool:
    return n >= min_samples(p)


def highest_supported(n: int, candidates=(99.0, 90.0, 75.0, 50.0)) -> float | None:
    """The highest candidate percentile ``n`` samples support, else None."""
    for p in candidates:
        if supported(n, p):
            return p
    return None
