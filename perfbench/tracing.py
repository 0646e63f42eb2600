"""Spans around the benchmark's calls into the engine.

A span records name, start, end, parent span and op id; with
``jobs=True`` it also records how many Spark jobs and completed tasks
started while it was open (diff of the status tracker's job ids, which
works with the UI disabled and across the engine's own threads).
Spans stay in memory and are written once, at exit. Disabled tracers
cost one attribute test per span.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None  # set by whoever (re)starts the session
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self.t0 = time.perf_counter()
        self._stack: list[dict] = []
        self._next_id = 0

    @contextmanager
    def span(self, name: str, op: str | None = None, jobs: bool = False):
        if not self.enabled:
            yield None
            return
        c0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {"id": self._next_id, "name": name,
               "parent": parent["id"] if parent else None,
               "op": op if op is not None else (parent or {}).get("op")}
        self._next_id += 1
        before = self._job_ids() if jobs else None
        self._stack.append(rec)
        c1 = time.perf_counter()
        self.overhead_s += c1 - c0
        rec["start"] = c1 - self.t0
        try:
            yield rec
        finally:
            c2 = time.perf_counter()
            rec["end"] = c2 - self.t0
            self._stack.pop()
            if jobs:
                new = self._job_ids() - before
                rec["spark_jobs"] = len(new)
                rec["spark_tasks"] = self._tasks(new)
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - c2

    def _job_ids(self) -> set[int]:
        return set(self.spark.sparkContext.statusTracker()
                   .getJobIdsForGroup())

    def _tasks(self, job_ids: set[int]) -> int:
        tracker = self.spark.sparkContext.statusTracker()
        n = 0
        for jid in job_ids:
            job = tracker.getJobInfo(jid)
            for sid in (job.stageIds if job else []):
                stage = tracker.getStageInfo(sid)
                n += stage.numCompletedTasks if stage else 0
        return n

    # -- aggregation -------------------------------------------------

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name]

    def median(self, name: str) -> float:
        return statistics.median(self.durations(name))

    def mean_field(self, name: str, field: str) -> float:
        return statistics.fmean(s[field] for s in self.spans
                                if s["name"] == name)

    def write(self, path: str, context: dict) -> None:
        with open(path, "w") as f:
            json.dump({"context": context, "overhead_s": self.overhead_s,
                       "spans": sorted(self.spans,
                                       key=lambda s: s["id"])}, f)
