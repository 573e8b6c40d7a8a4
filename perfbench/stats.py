"""Summary statistics for latency samples."""

from __future__ import annotations

import numpy as np

# candidate tail percentiles, highest first
LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def tail_pct(n: int) -> float:
    """The highest ladder percentile with at least ``MIN_BEYOND`` of ``n``
    samples above it. Below 2 * MIN_BEYOND samples no percentile above the
    median qualifies, and the median is used."""
    for p in LADDER:
        if round(n * (100.0 - p) / 100.0, 6) >= MIN_BEYOND:
            return p
    return 50.0


def tail(values) -> tuple[float, float]:
    """(percentile used, its value)."""
    p = tail_pct(len(values))
    return p, float(np.percentile(values, p))

