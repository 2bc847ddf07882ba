"""Percentiles and summaries for timing samples."""

from __future__ import annotations

import statistics

CANDIDATE_PCTS = (50.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10  # a tail percentile needs this many samples above it


def percentile(samples: list[float], pct: float) -> float:
    """Linear-interpolated percentile of ``samples`` (0 <= pct <= 100)."""
    if not samples:
        raise ValueError("percentile of no samples")
    xs = sorted(samples)
    pos = pct / 100.0 * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_pct(n: int) -> float | None:
    """Highest candidate percentile with at least ``MIN_BEYOND`` of ``n``
    samples beyond it, or None when not even the median has."""
    best = None
    for p in CANDIDATE_PCTS:
        if round(n * (100.0 - p) / 100.0, 9) >= MIN_BEYOND:
            best = p
    return best


def median(xs: list[float]) -> float:
    return statistics.median(xs)
