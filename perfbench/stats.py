"""Summary statistics shared by the workloads."""

from __future__ import annotations

import math
import statistics

# The percentile every ``*_tail_*`` figure reports.  A run has 16
# writer-free reads (trickle) or 21 query runs (queries); at those counts no
# percentile above the median has ten samples beyond it, so the tail is p90
# (linear interpolation), which falls at or between a run's second and
# third slowest samples.  Callers record the sample count beside it.
TAIL_PCT = 90.0


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * pct / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values: list[float]) -> float:
    return percentile(values, TAIL_PCT)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def geomean(values: list[float]) -> float:
    pos = [v for v in values if v > 0]
    return math.exp(sum(math.log(v) for v in pos) / len(pos)) if pos else 0.0
