"""Latency summaries: per-op medians and the tail-percentile rule."""

from __future__ import annotations

import math
import statistics

#: tail percentiles tried, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
#: samples that must lie beyond a reported tail percentile
TAIL_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def tail(values: list[float]) -> dict:
    """The highest percentile of ``TAIL_LADDER`` that has at least
    ``TAIL_BEYOND`` samples strictly beyond it. With fewer samples no
    percentile qualifies and the tail is the maximum (``percentile`` 100);
    ``beyond`` always says how many samples lie past the reported value."""
    if not values:
        raise ValueError("tail of no samples")
    n = len(values)
    for p in TAIL_LADDER:
        v = percentile(values, p)
        beyond = sum(1 for x in values if x > v)
        if beyond >= TAIL_BEYOND:
            return {"value": v, "percentile": p, "n": n, "beyond": beyond}
    return {"value": max(values), "percentile": 100.0, "n": n, "beyond": 0}


def per_op_medians(samples: list[tuple[str, float]]) -> list[float]:
    """One latency per distinct op: the median of its timed repeats, in
    first-seen order. A host hiccup that slows one repeat of an op in
    three moves none of these values."""
    by_op: dict[str, list[float]] = {}
    for name, seconds in samples:
        by_op.setdefault(name, []).append(seconds)
    return [statistics.median(v) for v in by_op.values()]
