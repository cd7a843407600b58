"""Sample statistics and metric-name rules for the benchmark (no Spark)."""

from __future__ import annotations

import math
import re
import statistics

#: metric names: a letter or digit, then letters, digits, ``_ . -``; ≤ 64
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
#: units: letters, digits and ``_ / % . -``; ≤ 16
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

#: a tail percentile is reported only when at least this many samples lie beyond it
MIN_BEYOND = 10


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> int | None:
    """Highest whole percentile above the median that still has at least
    ``min_beyond`` of ``n`` samples strictly beyond its nearest-rank
    position, or None when the sample is too small for any."""
    for p in range(99, 50, -1):
        rank = math.ceil(p * n / 100)
        if n - rank >= min_beyond:
            return p
    return None


def percentile(xs: list[float], p: int) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return float(s[max(0, math.ceil(p * len(s) / 100) - 1)])


def summarize(xs: list[float]) -> dict:
    """Median, sample count and the tail percentile the sample supports."""
    out = {"median": median(xs), "n": len(xs), "tail": None}
    p = tail_percentile(len(xs))
    if p is not None:
        out["tail"] = (f"p{p}", percentile(xs, p))
    return out


def spread(xs: list[float]) -> float:
    """Inter-quartile distance as a share of the median, with quartiles as
    ``statistics.quantiles(xs, n=4)`` gives them."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / median(xs)
