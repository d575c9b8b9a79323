"""Summary statistics for the benchmark's timing samples.

Pure Python, no Spark: the helpers are unit-tested on their own
(``perfbench/tests``).
"""

from __future__ import annotations

import statistics

#: a tail percentile is reported only where this many samples lie beyond it
TAIL_BEYOND = 10


def tail(samples: list[float]) -> dict:
    """Highest order statistic with at least ``TAIL_BEYOND`` samples
    beyond it, never below the median.

    With ``n`` sorted samples the value at rank ``r`` (0-based) has
    ``n - 1 - r`` samples beyond it, so the rule picks
    ``r = n - 1 - TAIL_BEYOND``. Runs too short for that to reach the
    median (``n < 2 * TAIL_BEYOND + 1``) report the upper median
    instead, and say so through ``beyond`` (fewer than
    ``TAIL_BEYOND``).
    """
    if not samples:
        raise ValueError("tail of no samples")
    xs = sorted(samples)
    n = len(xs)
    r = max(n - 1 - TAIL_BEYOND, n // 2)
    return {
        "value": xs[r],
        "pct": round(100.0 * (r + 1) / n, 1),
        "beyond": n - 1 - r,
        "n": n,
    }


def drift(samples: list[float]) -> float | None:
    """Relative change of the median from the first half of a run's
    samples to the second half (in run order). Positive = slower later.
    None when there are too few samples to split."""
    if len(samples) < 4:
        return None
    half = len(samples) // 2
    first = statistics.median(samples[:half])
    second = statistics.median(samples[len(samples) - half:])
    return (second - first) / first if first else None


def summary(samples: list[float]) -> dict:
    """Median, tail and drift of one timing series, with its count."""
    t = tail(samples)
    return {
        "n": len(samples),
        "p50": statistics.median(samples),
        "tail": t["value"],
        "tail_pct": t["pct"],
        "tail_beyond": t["beyond"],
        "drift": drift(samples),
    }

