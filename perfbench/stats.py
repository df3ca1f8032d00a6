"""Order statistics used by the benchmark and its noise study."""

from __future__ import annotations

import math
import statistics


def percentile(samples: list[float], q: float) -> float:
    """The ``q``-th percentile (0 < q < 100) by the nearest-rank rule: the
    smallest sample with at least ``q`` percent of the samples at or below
    it. Nearest rank always returns a measured value, never an
    interpolation between two."""
    if not samples:
        raise ValueError("percentile of no samples")
    if not 0 < q < 100:
        raise ValueError(f"percentile rank must be in (0, 100), got {q}")
    xs = sorted(samples)
    return xs[max(0, math.ceil(q / 100 * len(xs)) - 1)]


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the nearest-rank
    ``q``-th percentile."""
    return n - max(1, math.ceil(q / 100 * n))


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles of
    ``statistics.quantiles(values, n=4)`` — the run-to-run spread rule the
    benchmark's bounds are checked against."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med
