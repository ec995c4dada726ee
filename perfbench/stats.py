"""Summary statistics for latency samples.

A timing is reported as its median and its *tail*: the highest
percentile that still has at least ``TAIL_BEYOND`` samples above it,
with the sample count stated next to it. With n samples that is the
sample at sorted position ``n - 1 - TAIL_BEYOND`` (the percentile
``100 * (n - 1 - TAIL_BEYOND) / (n - 1)``); below ``TAIL_BEYOND + 1``
samples no percentile qualifies and the tail falls back to the median.
"""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """(value, percentile) of the highest sample with at least ``beyond``
    samples strictly above it in sorted order; the median and 50.0 when
    fewer than ``beyond + 1`` samples exist or the median is higher."""
    n = len(values)
    if n == 0:
        raise ValueError("no samples")
    s = sorted(values)
    pos = n - 1 - beyond
    if n == 1 or pos < (n - 1) / 2:
        return median(values), 50.0
    return float(s[pos]), 100.0 * pos / (n - 1)


def summary(values: list[float]) -> dict:
    """Median, tail, tail percentile and sample count of one timing."""
    t, pct = tail(values)
    return {"p50": median(values), "tail": t, "tail_pct": pct, "n": len(values)}
