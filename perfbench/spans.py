"""Spans around calls into the kg layers, with Spark job counts per span.

A span is (name, start, end, parent).  While a span is open, every job the
driver thread submits carries the span's job group, so after the run the
span's jobs, tasks, task run time and shuffle bytes can be read back from
Spark's status store.  Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.cores = self.sc.defaultParallelism
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-span-{len(self.spans)}",
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty(_GROUP, None)

    def collect_counts(self) -> None:
        """Attach job/stage counters from the status store to every span
        (a span's own jobs, not its children's)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            jobs = tracker.getJobIdsForGroup(rec["group"])
            run_ms = tasks = shuffle_write = 0
            for job in jobs:
                info = tracker.getJobInfo(job)
                for sid in info.stageIds if info else ():
                    try:
                        st = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # stage never attempted (skipped)
                        continue
                    run_ms += st.executorRunTime()
                    tasks += st.numCompleteTasks()
                    shuffle_write += st.shuffleWriteBytes()
            rec.update(jobs=len(jobs), tasks=tasks, task_run_s=run_ms / 1000.0,
                       shuffle_write_bytes=shuffle_write)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"cores": self.cores, "spans": self.spans}, f, indent=1)
