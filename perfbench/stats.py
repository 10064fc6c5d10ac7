"""Order statistics for the benchmark's reports.

A timing is reported as its median, quartiles, sample count and the
highest percentile that still has at least ten samples beyond it.
"""
import math

# Tail percentiles considered, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def percentile(values, p):
    """Linear interpolation between closest ranks (numpy's default)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50.0)


def tail_percentile(n):
    """Highest ladder percentile with at least ten of ``n`` samples beyond
    it; None when even the 75th has fewer than ten beyond it."""
    for p in TAIL_LADDER:
        if round(n * (100.0 - p) / 100.0, 9) >= 10.0:
            return p
    return None


def summary(values):
    """Median, quartiles, sample count and the supported tail."""
    out = {"n": len(values), "median": median(values),
           "q1": percentile(values, 25.0), "q3": percentile(values, 75.0)}
    p = tail_percentile(len(values))
    if p is not None:
        out["tail_pct"] = p
        out["tail"] = percentile(values, p)
    return out
