"""What one timed pass of a workload hands back to the runner."""
from __future__ import annotations

from dataclasses import dataclass


@dataclass
class PassResult:
    start: float                      # epoch seconds
    end: float
    cpu: float                        # process-tree CPU seconds in the pass
    steps: list[float]                # step wall times (round gaps, queries)
    ops: list[tuple[str, bool, str]]  # (operation, ok, message)
    trace: dict                       # workload facts for the traced run

    @property
    def wall(self) -> float:
        return self.end - self.start
