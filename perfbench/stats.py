"""Pure arithmetic of the benchmark: medians, quartile spreads, output
checks, the failure ratio and the per-layer gap. No Spark imports, so it
is unit-testable."""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return statistics.median(values)


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles(n=4)``
    gives them: the run-to-run spread each metric's bound is judged by."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / median(values)


def fail_ratio(failed: int, attempted: int) -> float:
    """Share of attempted validations that raised or gave a wrong output; a
    run that attempted nothing counts as failed."""
    return failed / attempted if attempted else 1.0


def layer_gap(wall_s: float, layers: dict[str, float]) -> float:
    """Wall time the layer replays do not account for (negative when the
    replays together cost more than the run they model)."""
    return wall_s - sum(layers.values())


@dataclass
class Tally:
    """Counts attempted validations and the ones that raised or whose output
    differed from the pinned result."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def record(self, observed: dict | None, expected: dict, label: str) -> bool:
        """``observed`` is None when the validation raised. Returns True when
        the output matched ``expected`` on every pinned key."""
        self.attempted += 1
        if observed is None:
            bad = ["raised"]
        else:
            bad = [k for k in expected if observed.get(k) != expected[k]]
        if bad:
            self.failed += 1
            self.problems.append(f"{label}: {', '.join(bad)}")
        return not bad
