"""Spans around the benchmark's calls into each linkgraph layer.

A span records name, start, end, parent span, op id and the Spark job ids
that ran inside it. Job ids come from a per-span job group
(``SparkContext.setJobGroup``) read back through ``statusTracker`` — the
engine runs with the Spark UI off, and job groups need no UI. Spans stay in
memory and are written out once, when the run ends.

A disabled tracer yields the same span objects (so callers can attach
attributes) but sets no job group and keeps no record.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # time spent in job-group bookkeeping
        self._stack: list[Span] = []
        self._next = 0

    def _set_group(self, span: Span | None) -> None:
        t = time.perf_counter()
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"perfbench-{span.sid}", span.name)
        self.overhead_s += time.perf_counter() - t

    @contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(self._next, name, parent.sid if parent else None, op, 0.0)
        self._next += 1
        if self.enabled:
            self._set_group(s)
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                t = time.perf_counter()
                tracker = self.sc.statusTracker()
                s.jobs = sorted(tracker.getJobIdsForGroup(f"perfbench-{s.sid}"))
                self.overhead_s += time.perf_counter() - t
                self._set_group(parent)
                self.spans.append(s)

    def self_times(self) -> dict[int, float]:
        """Span wall minus the part of it covered by its child spans."""
        out = {s.sid: s.wall for s in self.spans}
        for s in self.spans:
            if s.parent is not None and s.parent in out:
                out[s.parent] -= s.wall
        return out

    def jobs_total(self, span: Span) -> int:
        """Jobs of the span and of every span below it."""
        kids = [s for s in self.spans if s.parent == span.sid]
        return len(span.jobs) + sum(self.jobs_total(k) for k in kids)

    def dump(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            json.dump(
                {
                    **extra,
                    "spans": [
                        {**asdict(s), "self_s": selfs[s.sid]} for s in self.spans
                    ],
                },
                f,
                indent=1,
            )
