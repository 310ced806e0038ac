"""Summary statistics and failure accounting for the benchmark.

Quartiles follow ``statistics.quantiles(values, n=4)`` (the default
"exclusive" method), the same rule used to judge run-to-run spread.
"""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def quartiles(values: list[float]) -> tuple[float, float]:
    """(Q1, Q3) by ``statistics.quantiles(n=4)``; one sample is its own
    quartiles."""
    if not values:
        raise ValueError("quartiles of no samples")
    if len(values) == 1:
        return float(values[0]), float(values[0])
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return float(q1), float(q3)


def summary(values: list[float]) -> dict:
    """Median, quartiles and count; NaN with n=0 when there are no
    samples (every operation raised), so a report can still be printed."""
    if not values:
        return {"median": math.nan, "q1": math.nan, "q3": math.nan, "n": 0}
    q1, q3 = quartiles(values)
    return {"median": median(values), "q1": q1, "q3": q3, "n": len(values)}


@dataclass
class Outcomes:
    """Operations attempted and failed. An operation fails when it raises
    or when its answer disagrees with the oracle."""

    attempted: int = 0
    failed: int = 0
    reasons: list[str] = field(default_factory=list)

    def record(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.reasons.extend(problems)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
