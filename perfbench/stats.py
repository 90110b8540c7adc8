"""Percentiles, the tail-sample rule, and metric-name validation."""

from __future__ import annotations

import math
import re
import statistics

#: A reported tail percentile needs at least this many samples beyond it.
MIN_TAIL_SAMPLES = 10

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0 <= q <= 100)."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0.0 <= q <= 100.0:
        raise ValueError(f"percentile {q} outside [0, 100]")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_needed(q: float) -> int:
    """Smallest sample count that leaves ``MIN_TAIL_SAMPLES`` beyond the
    ``q``-th percentile."""
    if not 0.0 <= q < 100.0:
        raise ValueError(f"percentile {q} outside [0, 100)")
    return math.ceil(MIN_TAIL_SAMPLES * 100.0 / (100.0 - q) - 1e-9)


def tail(values: list[float]) -> dict | None:
    """The highest of p99, p95, p90 and p75 that the sample supports, as
    ``{"q", "value", "n"}``; None when even p75 is unsupported."""
    for q in (99, 95, 90, 75):
        if len(values) >= samples_needed(q):
            return {"q": q, "value": percentile(values, q), "n": len(values)}
    return None


def median(values: list[float]) -> float:
    return statistics.median(values)


def spread(values: list[float]) -> float:
    """Inter-quartile range as a share of the median, as the benchmark's
    acceptance rule computes it."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def check_names(metrics: dict[str, dict]) -> None:
    """Raise on a metric name or unit outside the benchmark's naming rules,
    or on a value that is not a finite number."""
    for name, m in metrics.items():
        if not NAME_RE.match(name):
            raise ValueError(f"bad metric name {name!r}")
        if set(m) != {"value", "unit"}:
            raise ValueError(f"metric {name!r} has keys {sorted(m)}")
        if not UNIT_RE.match(m["unit"]):
            raise ValueError(f"bad unit {m['unit']!r} for {name!r}")
        v = m["value"]
        if isinstance(v, bool) or not isinstance(v, (int, float)) or not math.isfinite(v):
            raise ValueError(f"metric {name!r} value {v!r} is not a finite number")
