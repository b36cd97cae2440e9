"""Summary statistics for benchmark samples."""

from __future__ import annotations

import statistics

PER_MILLE = (999, 990, 950, 900)  # candidate tail percentiles, x10


def tail(samples: list[float]) -> dict:
    """Median plus the highest of p99.9/p99/p95/p90 that has at least
    ten samples beyond it (nearest rank), with the sample count.  Below
    100 samples none qualifies and only the median is given."""
    xs = sorted(samples)
    n = len(xs)
    out = {"n": n, "p50": statistics.median(xs) if xs else None}
    for pm in PER_MILLE:
        if n * (1000 - pm) >= 10 * 1000:
            rank = -(-pm * n // 1000)  # ceil(pm * n / 1000)
            out[f"p{pm / 10:g}"] = xs[rank - 1]
            break
    return out
