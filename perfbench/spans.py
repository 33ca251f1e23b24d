"""Tracing for the traced run: spans kept in memory and Spark status deltas.

Spans are recorded by the benchmark around each call into a layer of the
package (name, start, end, parent span, request id) and written out as JSON
lines when the run ends. `SparkCounters` reads Spark's status store at the
same boundaries and attributes work to the jobs and stages that started
since the previous read.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager, nullcontext

from py4j.protocol import Py4JJavaError

STAGE_FIELDS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.exec_s",
    "spark.executor_cpu_s",
    "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes",
    "spark.spill_bytes",
)


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._t0 = time.perf_counter()

    def span(self, name: str, request: str | None = None):
        """Context manager recording one span; yields its record (a dict the
        caller may add fields to), or None when disabled."""
        if not self.enabled:
            return nullcontext()
        return self._span(name, request)

    @contextmanager
    def _span(self, name: str, request: str | None):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {
            "name": name,
            "start": time.perf_counter() - self._t0,
            "parent": parent["id"] if parent else None,
            "request": request or (parent["request"] if parent else None),
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class SparkCounters:
    """Deltas of Spark's status store, attributed by new job and stage ids.

    The session must retain every job and stage of the run
    (`spark.ui.retainedJobs` / `retainedStages`), or old entries are evicted
    and a delta undercounts.
    """

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._seen_stages: set[int] = set()
        self._last_job = -1
        self.take()

    def take(self) -> dict:
        """Totals over jobs started since the previous call."""
        self._sc.listenerBus().waitUntilEmpty()
        jobs = self._store.jobsList(None)  # newest first
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        newest = self._last_job
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid <= self._last_job:
                break
            newest = max(newest, jid)
            out["spark.jobs"] += 1
            ids = job.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # no attempt recorded for this stage
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += st.numCompleteTasks()
                out["spark.exec_s"] += st.executorRunTime() / 1e3
                out["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
                out["spark.spill_bytes"] += (
                    st.memoryBytesSpilled() + st.diskBytesSpilled()
                )
        self._last_job = newest
        return out


def add_counts(total: dict, delta: dict) -> None:
    for k in STAGE_FIELDS:
        total[k] = total.get(k, 0.0) + delta[k]
