"""Spans around the calls into each layer, with Spark job accounting.

A span records (name, start, end, parent, op id).  Each span runs under
its own Spark job group, so ``SparkContext.statusTracker()`` attributes
every job — and its stages and tasks — to exactly one span: the innermost
one open when the job ran.  Spans stay in memory until :meth:`Tracer.dump`
writes them out at the end of the run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    op: int
    parent: str | None
    group: str
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op: int):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, op, parent.name if parent else None, f"perfbench-{len(self.spans) + len(self._stack)}-{name}", time.perf_counter())
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name, interruptOnCancel=False)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name, interruptOnCancel=False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._account(s)
            self.spans.append(s)

    def _account(self, s: Span) -> None:
        tracker = self.sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(s.group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            s.jobs += 1
            for stage_id in info.stageIds:
                st = tracker.getStageInfo(stage_id)
                if st is None:
                    continue
                s.stages += 1
                s.tasks += st.numCompletedTasks
                s.failed_tasks += st.numFailedTasks

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def self_ms(self, s: Span) -> float:
        """Span duration minus the part its direct children cover."""
        kids = [c for c in self.op_spans(s.op) if c.parent == s.name]
        return s.ms - sum(c.ms for c in kids)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "ms": s.ms, "self_ms": self.self_ms(s)}) + "\n")
