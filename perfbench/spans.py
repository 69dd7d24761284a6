"""Spans around the public calls a workload makes.

Every timed call goes through ``Tracer.span``, which always measures
its wall time. With tracing on it also tags the Spark jobs submitted
from the calling thread with ``setJobGroup`` and records the span
(name, enclosing span, cycle, epoch-ms interval, Python-worker CPU at
both ends) in
memory; they are written out once, with the run's record, at exit.
Jobs submitted from
other threads (``query_groups`` runs a pool) carry no group, so the
event-log fold attributes jobs to spans by time interval.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from perfbench import procs


@dataclass
class Span:
    name: str
    cycle: int
    t0_ms: float
    parent: str | None = None
    t1_ms: float = 0.0
    cpu0_s: float = 0.0
    cpu1_s: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return (self.t1_ms - self.t0_ms) / 1000.0

    @property
    def py_cpu_s(self) -> float:
        return self.cpu1_s - self.cpu0_s


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None
        self.spans: list[Span] = []
        self._open: list[str] = []

    @contextmanager
    def span(self, name: str, cycle: int = -1):
        """Times the body; yields the Span so the body can attach
        attributes (row counts). ``cycle=-1`` marks set-up calls."""
        s = Span(name, cycle, 0.0, self._open[-1] if self._open else None)
        self._open.append(name)
        sc = self.spark.sparkContext if (self.enabled and self.spark is not None) else None
        outer = None
        if sc is not None:
            outer = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(name, f"perfbench {name} cycle {cycle}")
        if self.enabled:
            s.cpu0_s = procs.python_worker_cpu_s()
        s.t0_ms = time.time() * 1000.0
        try:
            yield s
        finally:
            self._open.pop()
            s.t1_ms = time.time() * 1000.0
            if self.enabled:
                s.cpu1_s = procs.python_worker_cpu_s()
                self.spans.append(s)
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", outer)
                sc.setLocalProperty("spark.job.description", outer)

    def as_dicts(self) -> list[dict]:
        return [asdict(s) for s in self.spans]
