"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math

# percentiles considered for the tail figure, highest first
TAIL_PERCENTILES = (99.9, 99, 95, 90, 75)
MIN_BEYOND = 10


def percentile(samples, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100 * len(xs)))
    return xs[rank - 1]


def tail_percentile(samples) -> tuple[float, float, int] | None:
    """The highest percentile in TAIL_PERCENTILES that has at least
    MIN_BEYOND samples beyond it, as (percentile, value, sample count).
    None when even the lowest candidate has too few samples beyond it."""
    n = len(samples)
    for p in TAIL_PERCENTILES:
        beyond = n - math.ceil(p / 100 * n)
        if beyond >= MIN_BEYOND:
            return p, percentile(samples, p), n
    return None


def unequal_counters(samples: list[dict], keys) -> dict[str, list]:
    """Counters among ``keys`` whose value differs between samples (one
    dict per repeat of the same work); exact counters must repeat, so an
    empty result means the check passed."""
    out = {}
    for k in keys:
        vals = [s.get(k) for s in samples]
        if len(set(vals)) > 1:
            out[k] = vals
    return out
