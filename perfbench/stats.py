"""Order statistics and failure counting for the benchmark's metrics."""

from __future__ import annotations

import math
from dataclasses import dataclass, field

# A tail percentile is reported only when at least this many samples lie
# beyond it; with fewer, the "tail" is one or two outliers.
MIN_BEYOND = 10
PERCENTILE_GRID = (99, 95, 90, 80, 75, 70, 60, 50)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank ``p``-th percentile (``0 < p <= 100``)."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < p <= 100:
        raise ValueError(f"percentile {p} outside (0, 100]")
    ordered = sorted(values)
    return ordered[max(1, math.ceil(p / 100 * len(ordered))) - 1]


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``p``-th."""
    return n - max(1, math.ceil(p / 100 * n))


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> int | None:
    """The highest percentile of ``PERCENTILE_GRID`` with at least
    ``min_beyond`` of ``n`` samples beyond it; None when even the median
    has fewer (p90 needs 100 samples, p60 needs 25)."""
    for p in PERCENTILE_GRID:
        if samples_beyond(n, p) >= min_beyond:
            return p
    return None


@dataclass
class OpCounter:
    """Operations attempted and failed.  An operation is one check
    verdict or one query execution; it fails when it errors or when its
    output differs from the workload's golden."""

    attempted: int = 0
    failures: list[str] = field(default_factory=list)

    def record(self, name: str, ok: bool, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(f"{name}: {why}" if why else name)

    @property
    def failed(self) -> int:
        return len(self.failures)

    @property
    def failed_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
