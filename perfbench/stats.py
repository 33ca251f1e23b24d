"""Summary statistics and failure accounting shared by every workload."""

from __future__ import annotations

import math
import statistics
from collections import Counter

# Candidate tail percentiles, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of the p-th percentile of n samples (rounded
    first, so 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p * n / 100.0, 6)))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    return ordered[_rank(p, len(ordered)) - 1]


def tail_percentile(n: int) -> float | None:
    """The highest candidate percentile with at least MIN_BEYOND of `n`
    samples beyond it, or None when even the median has fewer."""
    for p in TAIL_PERCENTILES:
        if n - _rank(p, n) >= MIN_BEYOND:
            return p
    return None


def summarize(values: list[float]) -> dict:
    """Median, the tail percentile the sample count supports, and the count."""
    out = {"n": len(values), "median": statistics.median(values) if values else None}
    p = tail_percentile(len(values))
    out["tail_p"] = p
    out["tail"] = percentile(values, p) if p is not None else None
    return out


class Tally:
    """Attempted and failed operations, with failure reasons by class."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: Counter[str] = Counter()

    def ok(self) -> None:
        self.attempted += 1

    def fail(self, reason: str, n: int = 1) -> None:
        self.attempted += n
        self.failed += n
        self.reasons[reason] += n

    def check(self, passed: bool, reason: str) -> bool:
        """Count one operation; a failing check counts as a failure."""
        if passed:
            self.ok()
        else:
            self.fail(reason)
        return passed

    @property
    def failed_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
