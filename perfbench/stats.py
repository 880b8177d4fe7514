"""Percentile, quartile and metric-name helpers (pure Python)."""

from __future__ import annotations

import math
import re
import statistics

_NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
_UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0..100) of ``values``."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0.0 <= q <= 100.0:
        raise ValueError(f"percentile {q} outside 0..100")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def reportable_percentile(n: int, q: float) -> bool:
    """A percentile is reported only with at least ten samples beyond it."""
    return n * (100.0 - q) / 100.0 >= 10


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)``."""
    if len(values) < 2:
        raise ValueError("quartile spread needs at least two values")
    q1, med, q3 = statistics.quantiles(values, n=4)
    if med == 0:
        raise ValueError("quartile spread of a sample with median 0")
    return (q3 - q1) / med


def valid_metric_name(name: str) -> bool:
    return bool(_NAME_RE.fullmatch(name))


def valid_unit(unit: str) -> bool:
    return bool(_UNIT_RE.fullmatch(unit))
