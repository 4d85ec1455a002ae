"""In-memory spans around the benchmark's calls into the engine.

A span records its name, start, end, parent span and operation id, and,
when asked, the number of Spark jobs that ran inside it: each such span
runs in its own Spark job group, counted afterwards with
``statusTracker().getJobIdsForGroup``. Spans stay in memory and are
written as one JSON file when the run ends.

With tracing off, ``span`` records nothing and sets no job group, so an
untraced run pays only a context-manager entry per call.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time


class Span:
    __slots__ = ("id", "name", "op", "parent", "start", "end", "jobs", "attrs")

    def __init__(self, sid, name, op, parent, start):
        self.id, self.name, self.op, self.parent = sid, name, op, parent
        self.start, self.end, self.jobs, self.attrs = start, None, None, {}

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "op": self.op,
                "parent": self.parent, "start": self.start, "end": self.end,
                "jobs": self.jobs, **self.attrs}


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._group: list[str | None] = [None]
        self.sc = None  # SparkContext, set once the session exists
        self.op = None  # current operation id
        self.phase = "setup"  # setup, warmup, timed or sweep
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = False):
        """Record a span; with ``jobs`` also count the Spark jobs it ran."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, self.op, parent,
                 time.perf_counter() - self._t0)
        s.attrs["phase"] = self.phase
        self.spans.append(s)
        self._stack.append(s)
        group = f"colbench-{s.id}" if jobs and self.sc is not None else None
        if group:
            self.sc.setJobGroup(group, name)
            self._group.append(group)
        try:
            yield s
        finally:
            s.end = time.perf_counter() - self._t0
            self._stack.pop()
            if group:
                s.jobs = len(self.sc.statusTracker().getJobIdsForGroup(group))
                self._group.pop()
                self.sc.setJobGroup(self._group[-1] or "colbench", "")

    def named(self, name: str, warm_only: bool = True) -> list[Span]:
        """Finished spans called ``name``; by default only those of the
        timed loop and the sweep, which run warm."""
        return [s for s in self.spans if s.name == name and s.end is not None
                and not (warm_only and s.attrs["phase"] in ("setup", "warmup"))]

    def median_s(self, name: str, warm_only: bool = True) -> float:
        return statistics.median(s.seconds
                                 for s in self.named(name, warm_only))

    def median_jobs(self, name: str) -> float:
        return statistics.median(s.jobs for s in self.named(name))

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": [s.as_dict() for s in self.spans]},
                      f, indent=1)
