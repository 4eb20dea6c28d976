"""Order statistics for the benchmark's latency figures.

Percentiles are nearest-rank, so the median and the tail come from one
rule and the tail never reads below the median.

``latency_tail_s`` follows one rule: the highest percentile of
:data:`LADDER` that has at least :data:`MIN_BEYOND` samples beyond it.
The ladder starts at p75, so the tail is never the median.  A run
holding fewer than ``4 * MIN_BEYOND`` requests has no such percentile;
it then reports the lowest rung, p75, the percentile with the most
samples beyond it, and says so, together with the sample count, in its
detail record.  The slowest request alone (p100) would rest on one
sample, the least repeatable figure a run can report.
"""

from __future__ import annotations

import math
import statistics

LADDER = (75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    return xs[_rank(len(xs), p) - 1]


def _rank(n: int, p: float) -> int:
    # 1e-9 absorbs float error (99.9 * 10000 / 100 is not exactly 9990)
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def beyond(n: int, p: float) -> int:
    """Samples strictly beyond the nearest-rank ``p``-th percentile of ``n``."""
    return n - _rank(n, p)


def tail_percentile(n: int) -> float:
    """The highest ladder percentile with at least MIN_BEYOND samples
    beyond it among ``n`` samples; the lowest rung when none qualifies."""
    ok = [p for p in LADDER if beyond(n, p) >= MIN_BEYOND]
    return ok[-1] if ok else LADDER[0]


def tail(values) -> tuple[float, float]:
    """(percentile used, its value) under the tail rule."""
    p = tail_percentile(len(values))
    return p, percentile(values, p)


def spread(values) -> float:
    """Distance between the first and third quartile, as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")
