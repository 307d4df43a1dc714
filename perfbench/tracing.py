"""Spans and Spark job counters, recorded from outside the engine.

A span wraps one call into a layer: name, start, end, parent span and
op id, plus the Spark jobs, stages, tasks and failed tasks that ran
inside it, read from ``SparkContext.statusTracker()``. Spans stay in
memory; ``dump`` writes them out once the run has ended.

A span's ``start`` and ``end`` exclude that bookkeeping, so its
duration is the call's own time. With tracing off, ``span`` only
yields, so untraced runs pay for one generator per op and nothing
else.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._sc = spark.sparkContext
        self._stack: list[dict] = []
        self._next_op = 0

    # -- status tracker ------------------------------------------------------
    def _drain_listener(self) -> None:
        """Wait until Spark's listener bus has delivered every event,
        so the status tracker knows every job that has run so far."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _max_job(self) -> int:
        self._drain_listener()
        ids = self._sc.statusTracker().getJobIdsForGroup(None)
        return max(ids, default=-1)

    def _counts_since(self, last_job: int) -> dict:
        tracker = self._sc.statusTracker()
        self._drain_listener()
        jobs = sorted(j for j in tracker.getJobIdsForGroup(None) if j > last_job)
        stages = tasks = failed = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                st = tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped: its output was reused
                stages += 1
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        return {
            "jobs": len(jobs),
            "stages": stages,
            "tasks": tasks,
            "failed_tasks": failed,
        }

    # -- spans ---------------------------------------------------------------
    def new_op(self) -> int:
        self._next_op += 1
        return self._next_op

    @contextmanager
    def span(self, name: str, op: int | None = None):
        """Record one call into a layer."""
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        first_job = self._max_job()
        s = {
            "name": name,
            "op": op if op is not None else (parent["op"] if parent else None),
            "parent": parent["id"] if parent else None,
            "id": len(self.spans) + len(self._stack),
        }
        self._stack.append(s)
        s["start"] = time.perf_counter()
        try:
            yield
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            s.update(self._counts_since(first_job))
            self.spans.append(s)

    def of(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")
