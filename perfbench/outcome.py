"""What one workload run measured, before it is turned into metrics."""

from __future__ import annotations

import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Outcome:
    #: wall of each repeated set-up
    setup_s: list[float] = field(default_factory=list)
    #: operation kind -> wall seconds of its calls in call order; the first is the cold call
    ops: dict[str, list[float]] = field(default_factory=dict)
    #: timings outside the timed region (for the report only)
    samples: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    unmatched_rows: int = 0
    extra: dict = field(default_factory=dict)
    #: wall of each phase of the run (set-up, timed loop, checks, ...)
    phases: dict[str, float] = field(default_factory=dict)

    @contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0

    def op(self, kind: str, span) -> None:
        self.ops.setdefault(kind, []).append(span.wall_s)

    def sample(self, name: str, wall: float) -> None:
        self.samples.setdefault(name, []).append(wall)

    def fail(self, why: str) -> None:
        self.failures.append(why)
        print(f"# FAILED: {why}", file=sys.stderr)

    @property
    def failed(self) -> int:
        return min(len(self.failures), self.attempted)

    def cold_s(self) -> float:
        """Sum over operation kinds of the first call of each."""
        return sum(xs[0] for xs in self.ops.values())

    def warm(self, kind: str) -> float:
        """Median of a kind's calls after the first (the only call if there is one)."""
        xs = self.ops[kind]
        return statistics.median(xs[1:] or xs)

    def warm_s(self) -> float:
        """Sum over operation kinds of each kind's warm median."""
        return sum(self.warm(k) for k in self.ops)
