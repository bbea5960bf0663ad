"""Order statistics the benchmark reports."""

from __future__ import annotations

import statistics

#: Percentiles the benchmark may report above the median, highest last.
LADDER = (90.0, 95.0, 99.0, 99.9)


def tail_percentile(n: int) -> float | None:
    """The highest percentile in :data:`LADDER` with at least ten of
    ``n`` samples beyond it, or ``None`` when only the median is
    supported."""
    best = None
    for p in LADDER:
        if round(n * (100.0 - p) / 100.0, 6) >= 10:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (``p`` in 0..100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def summarize(values: list[float]) -> dict[str, float]:
    """Median, the supported tail percentile, and the sample count."""
    out = {"n": float(len(values)), "p50": statistics.median(values)}
    p = tail_percentile(len(values))
    if p is not None:
        out[f"p{p:g}"] = percentile(values, p)
    return out
