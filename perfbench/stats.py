"""Percentiles and open-loop latency math (pure Python, no Spark)."""

from __future__ import annotations

import math
import statistics


def percentile(values, q: float) -> float:
    """Linear-interpolated q-th percentile (0..100), numpy's default rule."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def latencies(due: dict[str, float], committed: dict[str, float]
              ) -> list[float]:
    """Open-loop latency per item: commit time minus *scheduled* send time
    (not actual send time), so a stalled generator or a stalled system
    both show up as latency. Items never committed are left out; the
    caller counts them as failed."""
    return [committed[k] - t for k, t in due.items() if k in committed]


def backlog_max(sent: list[float], committed: list[float]) -> int:
    """Largest number of items sent but not yet committed at any instant.
    ``sent`` and ``committed`` hold one timestamp per item."""
    events = [(t, 1) for t in sent] + [(t, -1) for t in committed]
    # at equal times count the commit first: an item committed in the
    # same instant it was sent was never waiting
    events.sort(key=lambda e: (e[0], e[1]))
    depth = peak = 0
    for _, d in events:
        depth += d
        peak = max(peak, depth)
    return peak


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median, with ``statistics.quantiles(values, n=4)``."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")
