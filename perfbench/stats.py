"""Aggregates the benchmark reports: percentiles, geometric mean and the
ten-beyond rule for tail percentiles."""

from __future__ import annotations

import math
from collections.abc import Sequence

# a tail percentile is reported only where at least this many samples
# (or batches, for stream events) lie beyond it
BEYOND = 10


def percentile(values: Sequence[float], q: float) -> float:
    """The q-th percentile (0..100) with linear interpolation between the
    closest ranks (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def geomean(values: Sequence[float]) -> float:
    """Geometric mean of positive values."""
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def beyond(values: Sequence[float], q: float) -> int:
    """How many samples lie strictly above the q-th percentile."""
    cut = percentile(values, q)
    return sum(1 for v in values if v > cut)


def batches_beyond(
    values: Sequence[float], batch_ids: Sequence[int], q: float
) -> int:
    """How many distinct batches hold a sample above the q-th percentile.
    Events of one micro-batch share its fate, so the ten-beyond rule for a
    stream latency percentile counts batches, not events."""
    cut = percentile(values, q)
    return len({b for v, b in zip(values, batch_ids) if v > cut})

