"""The benchmark's single percentile rule, used for every latency metric.

A latency is reported as the median and the *tail*: the highest
percentile that still leaves at least ten samples above it. Both come
from the same sorted sample set and use nearest-rank indexing, so the
tail can never read below the median; a set smaller than
``2 * TAIL_BEYOND`` has no such percentile at or above its median, so
its tail is ``None`` rather than a figure the samples cannot support.
"""

from __future__ import annotations

import math

TAIL_BEYOND = 10
MIN_SAMPLES = 2 * TAIL_BEYOND


def summarize(samples) -> dict:
    """``{"p50", "tail", "tail_pct", "n"}`` of one sample set.

    p50 is the nearest-rank median (rank ``ceil(n/2)``); the tail is the
    sample at rank ``n - TAIL_BEYOND``, i.e. the ``100*(n-10)/n``-th
    percentile, so exactly ten samples lie beyond it. ``tail`` and
    ``tail_pct`` are ``None`` when ``n < MIN_SAMPLES``."""
    xs = sorted(float(x) for x in samples)
    n = len(xs)
    p50 = median(xs)
    if n < MIN_SAMPLES:
        return {"p50": p50, "tail": None, "tail_pct": None, "n": n}
    k = n - TAIL_BEYOND
    tail = xs[k - 1]
    if tail < p50:  # cannot happen for n >= MIN_SAMPLES; kept as a self-check
        raise AssertionError(f"tail {tail} below p50 {p50}")
    return {"p50": p50, "tail": tail, "tail_pct": 100.0 * k / n, "n": n}


def median(samples) -> float:
    """Nearest-rank median, the p50 rule above without the tail."""
    xs = sorted(float(x) for x in samples)
    if not xs:
        raise ValueError("median of no samples")
    return xs[math.ceil(len(xs) / 2) - 1]
