"""Tracing for the benchmark's traced run: spans recorded around calls
into the program's layers, and Spark counters read from the JVM status
store (populated with the UI off).

Spans are kept in memory and written once, when the run ends.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from contextlib import contextmanager


class Tracer:
    """Span recorder: name, start, end and parent of every span, all
    sharing one trace id. Times are seconds since the tracer started."""

    def __init__(self):
        self.trace_id = uuid.uuid4().hex
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "trace_id": self.trace_id,
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter() - self.t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def record(self, name: str, start: float, end: float, parent: int | None) -> None:
        """Add a span measured elsewhere (``perf_counter`` start/end)."""
        self.spans.append({
            "trace_id": self.trace_id, "id": len(self.spans), "parent": parent,
            "name": name, "start": start - self.t0, "end": end - self.t0,
        })

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


class SparkCounters:
    """Job/stage/task counters for the actions run since :meth:`mark`,
    read from ``SparkContext.statusStore`` (works with the UI off)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = spark._jsc.sc().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._quantiles = sc._gateway.new_array(sc._jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0
        self._last_job = -1

    def _jobs(self):
        jobs = self._store.jobsList(None)
        return [jobs.apply(i) for i in range(jobs.size())]

    def mark(self) -> None:
        self._last_job = max((j.jobId() for j in self._jobs()), default=-1)

    def since_mark(self) -> dict:
        jobs = [j for j in self._jobs() if j.jobId() > self._last_job]
        stage_ids: set[int] = set()
        for j in jobs:
            ids = j.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        n_stages = n_tasks = shuffle = spill = 0
        slowest = None
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() not in stage_ids or s.status().toString() != "COMPLETE":
                continue
            n_stages += 1
            n_tasks += s.numCompleteTasks()
            shuffle += s.shuffleWriteBytes()
            spill += s.memoryBytesSpilled() + s.diskBytesSpilled()
            if slowest is None or s.executorRunTime() > slowest.executorRunTime():
                slowest = s
        skew = 1.0
        if slowest is not None:
            summary = self._store.taskSummary(
                slowest.stageId(), slowest.attemptId(), self._quantiles
            )
            if summary.isDefined():
                run = summary.get().executorRunTime()
                median, top = run.apply(0), run.apply(1)
                skew = top / median if median > 0 else 1.0
        return {
            "spark.jobs": len(jobs),
            "spark.stages": n_stages,
            "spark.tasks": n_tasks,
            "spark.shuffle_write_mb": shuffle / 2**20,
            "spark.spill_mb": spill / 2**20,
            "spark.task_skew": skew,
        }
