"""Summaries of per-op latency samples."""

from __future__ import annotations

import math

# samples the reported tail percentile must leave above it
TAIL_BEYOND = 10


def tail(xs: list[float]) -> dict:
    """The highest whole percentile with at least ``TAIL_BEYOND`` samples
    above it.

    Percentiles are nearest-rank: the p-th is the k-th smallest sample with
    k = ceil(p * n / 100). With fewer than ``2 * TAIL_BEYOND`` samples no
    percentile at or above the median has ``TAIL_BEYOND`` samples above it;
    the tail is then the largest sample, reported as percentile 100 with the
    number of samples above it (zero), so the record says how little the
    sample supports.
    """
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    if n >= 2 * TAIL_BEYOND:
        for p in range(99, 49, -1):
            k = math.ceil(p * n / 100)
            if n - k >= TAIL_BEYOND:
                return {"value": s[k - 1], "percentile": p, "beyond": n - k, "samples": n}
    return {"value": s[-1], "percentile": 100, "beyond": 0, "samples": n}
