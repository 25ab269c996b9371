"""Spans and counters recorded from outside the engine, through public APIs.

A ``Tracer`` keeps spans in memory and writes them as JSON at the end. With
tracing off, ``span`` only times the block and nothing is recorded, so the
untraced run pays no job-group or status-tracker calls.

Counters come from two public sources:

- ``SparkContext.statusTracker()``: jobs, stages and tasks of the job group
  that each traced op runs under (``setJobGroup``);
- the driver JVM's ``ManagementFactory`` beans: total JIT compilation time
  and total garbage-collection time, read as deltas.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class JvmBeans:
    """Cumulative JIT and GC time of the driver JVM, in seconds."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._compilation = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self.pid = int(mf.getRuntimeMXBean().getPid())

    def jit_s(self) -> float:
        return self._compilation.getTotalCompilationTime() / 1000.0

    def gc_s(self) -> float:
        return sum(max(0, g.getCollectionTime()) for g in self._gcs) / 1000.0


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages and tasks that ran under job group ``group``."""
    tracker = sc.statusTracker()
    jobs = stages = tasks = 0
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            stage = tracker.getStageInfo(sid)
            if stage is not None:
                stages += 1
                tasks += stage.numTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, pass_id: int, job_group: bool = False):
        """Time the block; when tracing, record it as a span (child of the
        enclosing span) and, with ``job_group``, run it under its own Spark
        job group, whose counts ``count_jobs`` attaches later."""
        rec = {"name": name, "pass": pass_id, "start": time.perf_counter()}
        if not self.enabled:
            try:
                yield rec
            finally:
                rec["end"] = time.perf_counter()
            return
        rec["id"] = len(self.spans)
        rec["parent"] = self._stack[-1] if self._stack else None
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if job_group:
            rec["group"] = f"perfbench-{rec['id']}"
            self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if job_group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def count_jobs(self) -> None:
        """Attach job/stage/task counts to every job-group span not yet
        counted. Called between passes: the status store is fed by the
        asynchronous listener bus, so it is read after the op, not inside
        it, and before a long run ages the jobs out of the store."""
        for rec in self.spans:
            if "group" in rec and "jobs" not in rec:
                rec.update(job_counts(self.sc, rec["group"]))

    def write(self, path: str, meta: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"meta": meta, "spans": self.spans}, fh, indent=1)
