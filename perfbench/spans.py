"""Spans around calls into the engine's public layers, for the traced run.

A span times one call, labels the Spark jobs it launches with a job group
named after the span, and afterwards reads those jobs' stages from the
SparkContext's status store (``sc._jsc.sc().statusStore()``, which is populated
even with ``spark.ui.enabled=false``): job count, shuffle bytes, spill
bytes and task-time skew (max / median task run time, worst stage).

Jobs are attributed to a span by job id: every job whose id is above the
highest id seen when the span opened belongs to it, so an outer span also
counts the jobs of the spans nested inside it. Spans are kept in memory
and summarised once, when the run ends.
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._jvm = spark._jvm
        self.spans: dict[str, list[dict]] = defaultdict(list)

    # ------------------------------------------------------------------ #
    def _max_job_id(self) -> int:
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _jobs_since(self, watermark: int) -> list:
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= watermark:
                break
            out.append(j)
        return out

    def _stage_stats(self, jobs: list) -> dict:
        quantiles = self.sc._gateway.new_array(self._jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        stats = {"jobs": len(jobs), "shuffle_bytes": 0, "spill_bytes": 0,
                 "task_skew": 0.0}
        seen = set()
        for j in jobs:
            ids = j.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                stats["shuffle_bytes"] += st.shuffleWriteBytes()
                stats["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                if st.numTasks() < 2:
                    continue
                summary = self._store.taskSummary(sid, st.attemptId(), quantiles)
                if summary.isEmpty():
                    continue
                run = summary.get().executorRunTime()
                med, mx = run.apply(0), run.apply(1)
                if med > 0:
                    stats["task_skew"] = max(stats["task_skew"], mx / med)
        return stats

    # ------------------------------------------------------------------ #
    @contextmanager
    def span(self, name: str):
        outer = self.sc.getLocalProperty("spark.jobGroup.id")
        watermark = self._max_job_id()
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", outer)
            self.sc.setLocalProperty("spark.job.description", outer)
            rec = {"wall_s": wall}
            rec.update(self._stage_stats(self._jobs_since(watermark)))
            self.spans[name].append(rec)

    def call(self, name: str, fn, *args, **kwargs):
        with self.span(name):
            return fn(*args, **kwargs)

    def wrap(self, obj, attr: str, name: str) -> None:
        """Replace ``obj.attr`` on this instance with a spanned call."""
        fn = getattr(obj, attr)

        def spanned(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(obj, attr, spanned)

    # ------------------------------------------------------------------ #
    def median(self, name: str, field: str = "wall_s") -> float:
        vals = [r[field] for r in self.spans.get(name, [])]
        return statistics.median(vals) if vals else 0.0

    def mean(self, name: str, field: str = "wall_s") -> float:
        vals = [r[field] for r in self.spans.get(name, [])]
        return statistics.fmean(vals) if vals else 0.0
