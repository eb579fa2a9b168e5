"""Summary statistics and the run's environment block."""

from __future__ import annotations

import os
import statistics

#: A tail percentile is claimed only with at least this many samples beyond it.
TAIL_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values))


def tail(values) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has at least
    ``TAIL_BEYOND`` samples above it. With fewer than ``2 * TAIL_BEYOND``
    samples no tail above the median can be claimed, so the median is
    returned as the 50th percentile."""
    xs = sorted(values)
    n = len(xs)
    if n < 2 * TAIL_BEYOND:
        return median(xs), 50.0
    k = n - TAIL_BEYOND - 1  # exactly TAIL_BEYOND samples sit above xs[k]
    return float(xs[k]), 100.0 * (k + 1) / n


def environment(cpu_gauge) -> dict:
    """What the box looked like: cores, load and a single-thread gauge."""
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "cpu_gauge_sec": cpu_gauge(),
    }
