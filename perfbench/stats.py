"""Summary statistics and metric naming for the benchmark's report."""

from __future__ import annotations

import math
import re
import statistics

#: Percentiles the report may use, lowest first.
PERCENTILES = (50.0, 90.0, 99.0, 99.9)

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def valid_name(name: str) -> bool:
    return NAME.fullmatch(name) is not None


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples
    (rounded first, so 99.9 of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def tail_percentile(n: int) -> float | None:
    """The highest percentile with at least ten of ``n`` samples beyond
    it, or None when even the median has fewer."""
    ok = [p for p in PERCENTILES if n - _rank(p, n) >= 10]
    return max(ok) if ok else None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    if not values:
        raise ValueError("no values")
    ordered = sorted(values)
    return ordered[_rank(p, len(ordered)) - 1]


def median(values: list[float]) -> float:
    return statistics.median(values)
