"""Percentiles that carry their sample count.

A tail percentile is only reported when at least ``MIN_BEYOND``
samples lie beyond it; with fewer, the figure would be one or two
slow samples, not a property of the system.
"""

from __future__ import annotations

import math

MIN_BEYOND = 10


class TooFewSamples(ValueError):
    """Raised when a percentile has fewer than MIN_BEYOND samples
    beyond it."""


def percentile(values, q: float, min_beyond: int = MIN_BEYOND) -> dict:
    """The ``q``-th percentile (0 < q < 100, nearest-rank on the sorted
    samples) as ``{"value", "n"}``.

    Refuses (``TooFewSamples``) unless at least ``min_beyond`` samples
    lie strictly above the returned rank.  The median of a non-empty
    sample is always allowed."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise TooFewSamples(f"p{q:g}: no samples")
    if not 0 < q < 100:
        raise ValueError(f"percentile must be in (0, 100), got {q}")
    rank = max(1, math.ceil(q / 100.0 * n))  # 1-based nearest rank
    if q != 50 and n - rank < min_beyond:
        raise TooFewSamples(
            f"p{q:g} of {n} samples has {n - rank} beyond it "
            f"(needs {min_beyond})"
        )
    return {"value": float(xs[rank - 1]), "n": n}


def median(values) -> dict:
    """The middle sample (mean of the two middle ones for even n)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise TooFewSamples("median: no samples")
    mid = n // 2
    v = xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2.0
    return {"value": float(v), "n": n}
