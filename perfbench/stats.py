"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math


def tail_percentile(samples: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile that still has at least ten samples
    beyond it, and its value: ``(pct, value)``.

    With n sorted samples the p-th percentile (nearest rank,
    ``ceil(p/100 * n)``) has ``n - rank`` samples above it; the highest
    percentile with ten above it has rank ``n - 10``, so the rule needs
    at least 11 samples and returns ``(None, None)`` otherwise.
    """
    n = len(samples)
    if n < 11:
        return None, None
    rank = n - 10
    pct = math.floor(100.0 * rank / n)
    while pct > 0 and n - math.ceil(pct / 100.0 * n) < 10:
        pct -= 1
    value = sorted(samples)[math.ceil(pct / 100.0 * n) - 1]
    return float(pct), value
