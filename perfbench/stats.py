"""Summary statistics and the metric-name grammar shared by the runner
and the compare command."""

from __future__ import annotations

import re
import statistics

#: a metric name: starts with a letter or digit, at most 64 of
#: [A-Za-z0-9_.-]
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
#: a unit: 1 to 16 of [A-Za-z0-9_/%.-]
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

#: percentiles tried for the tail, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def valid_name(name: str) -> bool:
    return bool(NAME_RE.match(name))


def valid_unit(unit: str) -> bool:
    return bool(UNIT_RE.match(unit))


def median(values: list[float]) -> float:
    return statistics.median(values)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives
    them; a single value is its own quartiles."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median (0 if the
    median is 0)."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / abs(med) if med else 0.0


def tail(values: list[float]) -> tuple[float, float, int] | None:
    """(percentile, value, n): the highest of ``TAIL_PERCENTILES`` that
    has at least ``TAIL_MIN_BEYOND`` samples strictly beyond its
    nearest-rank position, or None when the sample is too small to
    have one (fewer than 20 values)."""
    xs = sorted(values)
    n = len(xs)
    for p in TAIL_PERCENTILES:
        rank = -(-round(p * 10) * n // 1000)  # 1-based nearest rank, exact
        if rank >= 1 and n - rank >= TAIL_MIN_BEYOND:
            return p, xs[rank - 1], n
    return None
