"""Live import-progress counters (SURVEY §2 A6).

The reference prints a driver-side progress bar from inside its single-
threaded import loop (ProgressBarUtils.java:12-31, driven per-instance
from ReactomeBatchImporter.java:156).  A Spark job has no such loop to
hook — the work happens in executor tasks — so the analog is the
driver's StatusTracker: a daemon thread polls active stages and emits
(stage, completed/total task) counters while any action runs.

This is pull-based on purpose.  A push SparkListener would need a py4j
callback server (an extra socket + thread per event at 10^5 tasks per
stage); polling costs one driver-local RPC per interval regardless of
cluster size, and progress display never needs sub-interval latency.
The reporter is read-only over job state — it cannot slow down or
reorder the work it observes.
"""

from __future__ import annotations

import threading
import time
from collections.abc import Callable
from dataclasses import dataclass, field


@dataclass
class StageProgress:
    stage_id: int
    name: str
    num_tasks: int
    num_active: int
    num_completed: int
    num_failed: int

    def render(self, width: int = 20) -> str:
        """`|====    | 45% (9/20)` — the reference's bar shape
        (ProgressBarUtils.java:17-23), one line per live stage."""
        pct = self.num_completed / self.num_tasks if self.num_tasks else 0.0
        done = int(pct * width)
        bar = "=" * done + " " * (width - done)
        return (
            f"stage {self.stage_id} |{bar}| {int(pct * 100):3d}% "
            f"({self.num_completed}/{self.num_tasks})"
        )


@dataclass
class ProgressSnapshot:
    ts: float
    stages: list[StageProgress] = field(default_factory=list)


class ProgressReporter:
    """Polls spark.sparkContext.statusTracker() on a daemon thread.

    Usage::

        with ProgressReporter(spark, sink=print) as rep:
            run_pipeline_materialized(...)
        rep.snapshots  # every observed (ts, [stage counters]) sample

    ``sink`` (if given) receives one rendered line per live stage per
    poll; snapshots are always retained for programmatic assertions.
    """

    def __init__(
        self,
        spark,
        interval: float = 0.25,
        sink: Callable[[str], None] | None = None,
    ) -> None:
        self._tracker = spark.sparkContext.statusTracker()
        self._interval = interval
        self._sink = sink
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.snapshots: list[ProgressSnapshot] = []

    def _poll_once(self) -> None:
        stages = []
        for sid in self._tracker.getActiveStageIds():
            info = self._tracker.getStageInfo(sid)
            if info is None:
                continue
            stages.append(
                StageProgress(
                    stage_id=sid,
                    name=info.name,
                    num_tasks=info.numTasks,
                    num_active=info.numActiveTasks,
                    num_completed=info.numCompletedTasks,
                    num_failed=info.numFailedTasks,
                )
            )
        if stages:
            snap = ProgressSnapshot(ts=time.monotonic(), stages=stages)
            self.snapshots.append(snap)
            if self._sink is not None:
                for s in stages:
                    self._sink(s.render())

    def _run(self) -> None:
        while not self._stop.is_set():
            self._poll_once()
            self._stop.wait(self._interval)
        self._poll_once()  # final sample so short tail stages are seen

    def start(self) -> "ProgressReporter":
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5.0)
            self._thread = None

    def __enter__(self) -> "ProgressReporter":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()

    def total_tasks_seen(self) -> int:
        """Max completed-task count per stage, summed — a monotone
        import counter analog (the reference's `current` / `total`)."""
        best: dict[int, int] = {}
        for snap in self.snapshots:
            for s in snap.stages:
                best[s.stage_id] = max(best.get(s.stage_id, 0), s.num_completed)
        return sum(best.values())
