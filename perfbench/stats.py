"""Pure summary helpers: percentiles with their sample counts, and the
attempted/failed counter behind ``error_rate``. No Spark imports."""

from __future__ import annotations

import math
from collections.abc import Sequence
from dataclasses import dataclass, field


def percentile(values: Sequence[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0..100) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0.0 <= q <= 100.0:
        raise ValueError(f"percentile {q} outside 0..100")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def weighted_percentile(pairs: Sequence[tuple[float, float]], q: float) -> float:
    """Percentile of values given as (value, weight) pairs: the smallest
    value whose cumulative weight reaches ``q`` percent of the total."""
    if not pairs:
        raise ValueError("percentile of no samples")
    total = sum(w for _, w in pairs)
    if total <= 0:
        raise ValueError("weights must sum above 0")
    acc = 0.0
    for value, weight in sorted(pairs):
        acc += weight
        if acc >= total * q / 100.0:
            return value
    return max(v for v, _ in pairs)


def geomean(values: Sequence[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


@dataclass
class Metric:
    """One reported number: value, unit and the samples it summarizes."""

    value: float
    unit: str
    n: int


@dataclass
class OpCounter:
    """Attempted and failed operations of one run. A failed op stays in
    the denominator; a failed correctness check counts as one failed op."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def ok(self) -> None:
        self.attempted += 1

    def fail(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.errors.append(what)

    def check(self, passed: bool, what: str) -> bool:
        """A passing correctness check is not an op; a failed one is one
        attempted and failed op."""
        if not passed:
            self.fail(f"check failed: {what}")
        return passed

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
