"""Latency summaries: median and the tail percentile rule.

Percentiles interpolate linearly between order statistics, so a run whose
op mix puts the median between two ops' latencies reports a value between
them instead of jumping from one to the other. The tail is the highest
percentile of ``TAIL_LADDER`` that still has at least ``MIN_BEYOND``
samples strictly above it. The ladder stops at p75, so a run needs at
least ``MIN_SAMPLES`` samples to have a tail at all; with fewer,
:func:`tail` raises rather than pass off a central value as the tail.
"""

from __future__ import annotations

import math

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 80.0, 75.0)
MIN_BEYOND = 10
#: Fewest samples for which p75 can have ``MIN_BEYOND`` samples above it.
MIN_SAMPLES = 38


def percentile(sorted_vals: list[float], pct: float) -> float:
    """Linear interpolation between order statistics (numpy's default)."""
    if not sorted_vals:
        raise ValueError("no samples")
    h = (len(sorted_vals) - 1) * pct / 100.0
    lo = math.floor(h)
    hi = min(lo + 1, len(sorted_vals) - 1)
    return sorted_vals[lo] + (h - lo) * (sorted_vals[hi] - sorted_vals[lo])


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(percentile, value, samples strictly above the value) by the tail
    rule; ``ValueError`` when no percentile of the ladder qualifies."""
    vals = sorted(samples)
    for pct in TAIL_LADDER:
        value = percentile(vals, pct)
        beyond = sum(v > value for v in vals)
        if beyond >= MIN_BEYOND:
            return pct, value, beyond
    raise ValueError(
        f"no tail percentile: {len(vals)} samples leave fewer than "
        f"{MIN_BEYOND} above p{TAIL_LADDER[-1]:g}"
    )


def median(samples: list[float]) -> float:
    return percentile(sorted(samples), 50.0)
