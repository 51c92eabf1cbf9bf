"""Round boundaries of a ``run_crawl`` call, seen from the lakehouse.

``run_crawl`` commits once per round, plus one maintenance commit on
compaction rounds, so the commit times split a crawl's wall time into
rounds without touching the engine.
"""

from __future__ import annotations

import shutil
import statistics
import threading
import time
from pathlib import Path

from __spider_spark.sources.lakehouse import Lakehouse


class ClockedLakehouse(Lakehouse):
    """A Lakehouse that timestamps each commit. Given a ``JobCounter`` it
    also marks the Spark jobs run so far at each commit, and copies the
    snapshot the round after ``freeze_after`` will start from to
    ``frozen_dir`` (expiry may delete it from the live lakehouse later)."""

    def __init__(self, root, counter=None, freeze_after: int | None = None,
                 frozen_dir: Path | None = None) -> None:
        super().__init__(root)
        self.counter = counter
        self.freeze_after = freeze_after
        self.frozen_dir = frozen_dir
        self.frozen_version: int | None = None
        self.commits: list[tuple[int, float, set[int] | None]] = []
        self.hook_s = 0.0

    def commit(self, round_id, append=None, replace=None, props=None):
        super().commit(round_id, append=append, replace=replace, props=props)
        t = time.perf_counter()
        jobs = None
        if self.counter is not None:
            jobs = self.counter.watermark()
            if round_id == self.freeze_after:
                shutil.rmtree(self.frozen_dir, ignore_errors=True)
                shutil.copytree(self.root, self.frozen_dir)
                self.frozen_version = self.versions()[-1]
        self.commits.append((round_id, t, jobs))
        self.hook_s += time.perf_counter() - t

    def _round_ends(self) -> dict[int, tuple[float, set[int] | None]]:
        ends = {}
        for k, t, jobs in self.commits:
            ends[k] = (t, jobs)     # a round ends at its last commit
        return ends

    def round_spans(self, t0: float) -> list[tuple[float, float]]:
        """(start, end) of each committed round. Round 1 starts at ``t0``,
        the start of the crawl, so it also holds the seed frontier's
        commit; every later round starts when the one before it ends."""
        ends = self._round_ends()
        starts = {1: t0, **{k + 1: t for k, (t, _) in ends.items()}}
        return [(starts[k], ends[k][0]) for k in sorted(ends) if k >= 1]

    def round_jobs(self) -> list[dict[str, int]]:
        """Jobs, stages and tasks of each committed round (tracing only)."""
        if self.counter is None:
            return []
        ends = self._round_ends()
        return [self.counter.count(ends[k][1] - ends[k - 1][1])
                for k in sorted(ends) if k >= 1 and k - 1 in ends]


class SpeedProbe:
    """Samples this machine's CPU speed while the benchmark runs.

    A daemon thread times a fixed pure-Python loop (about 1.5 ms) every
    ``every`` seconds, well under 1% of one core. On a shared virtual
    machine the effective speed of every core drifts by up to 2x between
    minutes while staying steady within one round, so ``factor`` over a
    round's interval says how much slower than ``NOMINAL_S`` that round ran.
    """

    NOMINAL_S = 0.0015     # the loop's median on an idle 4-vCPU VM

    def __init__(self, every: float = 0.2) -> None:
        self.every = every
        self.samples: list[tuple[float, float]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _loop() -> None:
        h = 0
        for i in range(10_000):
            h = (h * 31 + i) & 0xFFFFFFFF

    def _run(self) -> None:
        while not self._stop.wait(self.every):
            t = time.perf_counter()
            self._loop()
            self.samples.append((t, time.perf_counter() - t))

    def __enter__(self) -> "SpeedProbe":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def factor(self, t0: float, t1: float) -> float:
        """Median loop time within [t0, t1] over the nominal one (1.0 when
        the interval holds no sample)."""
        inside = [d for t, d in self.samples if t0 <= t <= t1]
        return statistics.median(inside) / self.NOMINAL_S if inside else 1.0
