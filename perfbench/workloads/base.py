"""What every workload returns, and the run-wide clock it measures with."""

from __future__ import annotations

import time
from dataclasses import dataclass, field


@dataclass
class Outcome:
    """Measured figures and correctness counts of one workload run."""

    #: The end-to-end metrics, by their ``BENCHMARK.json`` names.
    metrics: dict[str, float] = field(default_factory=dict)
    #: Workload-specific figures for the report (name -> (value, unit)).
    report: dict[str, tuple] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    #: One line per failed check, for the report.
    problems: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> bool:
        """Count one checked operation; record it if its outcome is wrong."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 50:
                self.problems.append(what)
        return ok


class ActiveClock:
    """Accumulates only the time spent inside ``timed()`` blocks, so input
    generation and correctness checks between operations do not count
    toward the measured window."""

    def __init__(self) -> None:
        self.active = 0.0

    def timed(self):
        return _Timed(self)


class _Timed:
    def __init__(self, clock: ActiveClock) -> None:
        self.clock = clock
        self.start = self.end = 0.0

    def __enter__(self):
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.end = time.perf_counter()
        self.clock.active += self.end - self.start

    @property
    def seconds(self) -> float:
        return self.end - self.start
