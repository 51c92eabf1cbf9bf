"""Spans and Spark job counts, recorded from the benchmark's own files.

Spans are kept in memory and written once, when the run ends. Job, stage
and task counts come from ``SparkContext.statusTracker()``: each counted
region runs under a job group of its own, and jobs started from threads
that do not carry the group (the lakehouse commit writes tables from a
thread pool) are caught as new ungrouped jobs.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str            # workload/seed the span belongs to
    round: int | None


class Tracer:
    def __init__(self, run: str) -> None:
        self.run = run
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, round_k: int | None = None):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, time.perf_counter(), 0.0, parent, self.run,
                 round_k)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Span name -> summed duration minus the time its children cover."""
        child = {s.id: 0.0 for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start
                                                  - child[s.id])
        return out

    def write(self, path: Path) -> None:
        path.write_text(json.dumps({
            "spans": [asdict(s) for s in self.spans],
            "self_s": self.self_times(),
        }, indent=1))


class JobCounter:
    """Jobs, stages and tasks the Spark driver ran inside a region."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()
        self._groups: set[str] = set()
        self._counted: set[int] = set()   # stages already billed somewhere
        self._n = 0

    def _known(self) -> set[int]:
        ids = set(self.tracker.getJobIdsForGroup(None))
        for g in self._groups:
            ids.update(self.tracker.getJobIdsForGroup(g))
        return ids

    @contextmanager
    def region(self, label: str):
        """Yields a dict that holds ``jobs``/``stages``/``tasks`` once the
        region has ended."""
        self._n += 1
        group = f"perfbench-{self._n}-{label}"
        self._groups.add(group)
        before = self._known()
        out: dict[str, int] = {}
        self.sc.setJobGroup(group, label)
        try:
            yield out
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            out.update(self.count(self._known() - before))

    def watermark(self) -> set[int]:
        return self._known()

    def count(self, job_ids) -> dict[str, int]:
        """Counts for finished jobs. A stage a later job reuses (its shuffle
        output is already there) is billed only to the job that ran it."""
        stages: set[int] = set()
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        ran, tasks = 0, 0
        for sid in sorted(stages - self._counted):
            st = self.tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks > 0:
                self._counted.add(sid)
                ran += 1
                tasks += st.numCompletedTasks
        return {"jobs": len(job_ids), "stages": ran, "tasks": tasks}
