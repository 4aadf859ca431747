"""Small statistics helpers shared by the workloads."""

from __future__ import annotations

import math
import statistics


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def tail_percentile(samples, min_beyond: int = 10):
    """The highest whole percentile that still has ``min_beyond`` samples
    above its nearest-rank position.

    Returns ``(percentile, value, beyond)`` or None when there are too few
    samples (fewer than ``min_beyond + 1``). Nearest rank: percentile p of
    n sorted samples is the sample at rank ceil(p * n / 100), and the
    samples "beyond" it are the n - rank samples ranked after it.
    """
    ordered = sorted(samples)
    n = len(ordered)
    if n <= min_beyond:
        return None
    p = (100 * (n - min_beyond)) // n
    rank = max(1, math.ceil(p * n / 100))
    return p, ordered[rank - 1], n - rank
