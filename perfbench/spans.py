"""Spans and Spark scheduler counters, recorded from outside the program.

A span covers one call into a layer. In a traced run each span gets its
own job group, and when it ends the JVM status store gives the jobs,
stages, tasks, shuffle bytes and executor run time of every job submitted
while it was open. Counting by job id rather than by group also catches
jobs started from pool threads, which do not inherit the group; it assumes
nothing else submits jobs while a span is open. This works with
``spark.ui.enabled=false``. Spans stay in memory until ``write`` dumps them
as JSON lines. An untraced tracer times nothing and sets no job group, so
end-to-end runs carry no tracing cost.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time


class JobStats:
    """Scheduler counters of finished jobs, read from the JVM status store."""

    FIELDS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "executor_run_ms")

    def __init__(self, spark):
        self._store = spark.sparkContext._jsc.sc().statusStore()

    def max_job_id(self) -> int:
        """Id of the newest job; ids are handed out in submission order."""
        jobs = self._store.jobsList(None)
        n = jobs.size()
        return max(jobs.apply(0).jobId(), jobs.apply(n - 1).jobId()) if n else -1

    def since(self, job_id: int) -> dict:
        """Counters of every job submitted after job ``job_id``."""
        return self.of(range(job_id + 1, self.max_job_id() + 1))

    def of(self, job_ids) -> dict:
        out = dict.fromkeys(self.FIELDS, 0)
        out["jobs"] = len(job_ids)
        for jid in job_ids:
            stage_ids = self._store.job(jid).stageIds()
            for i in range(stage_ids.size()):
                try:
                    st = self._store.lastStageAttempt(stage_ids.apply(i))
                except Exception:  # noqa: BLE001 - skipped stages have no attempt
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["executor_run_ms"] += st.executorRunTime()
        return out


class Tracer:
    """Records spans when ``enabled``; otherwise every method only runs
    the wrapped call."""

    def __init__(self, spark, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._sc = spark.sparkContext
        self._stats = JobStats(spark) if enabled else None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str):
        """Time a block; in a traced run also tag its jobs and record the
        span with its scheduler counters. Yields the span record (``None``
        when untraced); its ``ms`` is set when the block ends."""
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = next(self._ids)
        first_job = self._stats.max_job_id()
        prev = self._sc.getLocalProperty("spark.jobGroup.id")
        self._sc.setJobGroup(f"{self.run_id}:{sid}", name)
        rec = {
            "name": name,
            "id": sid,
            "parent": stack[-1]["id"] if stack else None,
            "run_id": self.run_id,
            "start": time.time(),
        }
        stack.append(rec)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["ms"] = (time.perf_counter() - t0) * 1e3
            rec["end"] = time.time()
            stack.pop()
            if prev is None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            else:
                self._sc.setJobGroup(prev, stack[-1]["name"] if stack else prev)
            rec.update(self._stats.since(first_job))
            with self._lock:
                self.spans.append(rec)

    def call(self, name: str, fn, *args, **kwargs):
        with self.span(name):
            return fn(*args, **kwargs)

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span called ``name``."""

        def traced(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)

        return traced

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
