"""Sample summaries used in the benchmark's report."""

from __future__ import annotations

import statistics

# percentiles the report may quote beside the median, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0)


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail_percentile(n: int) -> float | None:
    """The highest of TAIL_PERCENTILES with at least ten of ``n`` samples
    beyond it, or None when no such percentile exists (n < 100)."""
    for p in TAIL_PERCENTILES:
        if n * (1.0 - p / 100.0) >= 10.0 - 1e-9:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def summary(values: list[float]) -> dict[str, float | int]:
    """Median and sample count, plus the tail percentile the sample
    count supports."""
    out: dict[str, float | int] = {"n": len(values), "median": median(values)}
    p = tail_percentile(len(values))
    if p is not None:
        out[f"p{p:g}"] = percentile(values, p)
    return out

