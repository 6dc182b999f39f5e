"""Summary statistics the benchmark reports: percentiles, geometric mean
and failure accounting. Pure functions, no Spark."""

from __future__ import annotations

import math


def percentile(values, q: float) -> float:
    """The q-th percentile (0..100) by linear interpolation between the
    closest ranks, as ``numpy.percentile`` computes it by default."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile {q} outside 0..100")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50)


def geomean(values) -> float:
    """Geometric mean of positive values."""
    xs = list(values)
    if not xs:
        raise ValueError("geomean of an empty sample")
    if any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


class Outcomes:
    """Counts attempted and failed operations. An operation fails when
    it raises, returns a wrong answer, or ends after its deadline; once
    the session is lost, every later operation fails too."""

    def __init__(self, deadline_s: float):
        self.deadline_s = deadline_s
        self.attempted = 0
        self.failed = 0
        self.session_lost = False
        self.reasons: dict[str, int] = {}

    def record(self, elapsed_s: float, error: str | None = None) -> bool:
        """Count one operation; returns True if it succeeded."""
        self.attempted += 1
        if self.session_lost:
            error = "after lost session"
        elif error is None and elapsed_s > self.deadline_s:
            error = "deadline exceeded"
        if error is None:
            return True
        self.failed += 1
        key = error.splitlines()[0][:120] if error else "error"
        self.reasons[key] = self.reasons.get(key, 0) + 1
        return False

    def lose_session(self) -> None:
        self.session_lost = True

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
