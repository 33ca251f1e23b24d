"""`convert_stream`: open loop, the reference's async job path, measured as
the `streaming.jobs` layer of the `convert_batch` traced run.

Seeded single-document jobs, plus a `batch-XXX_` group every few seconds,
land in the landing directory of `start_conversion_stream` at a fixed rate.
A pool of pollers calls `get_job_status` / `get_batch_status` until each
job is terminal. Latency runs from each job's due time to its first
terminal status. Every poll is a Spark read of the whole, growing results
table, so reads run beside the stream's writes and checkpoints.

Load ceiling, chosen: each pending job is read at most every
POLL_INTERVAL_S, by POLLERS threads taking jobs in turn. At about 0.3 s per
read (4 cores, measured) that caps status reads near 6/s, so latency grows
once more than a couple of jobs are pending at once.
"""

from __future__ import annotations

import collections
import glob
import os
import random
import statistics
import threading
import time

from perfbench import corpus
from perfbench.arrivals import OpenLoop, schedule
from perfbench.workloads.common import Expectations, md_hash, write_atomic

RATE = 3.0  # single-document jobs per second
BATCH_EVERY = 2.5  # seconds between batch groups
BATCH_SIZE = 3
POLLERS = 2
POLL_INTERVAL_S = 0.25  # a client polls its job at most this often
DRAIN_S = 30.0  # after the last due time; jobs not terminal by then fail
READY_S = 60.0


class _Window:
    """One measurement window: a fresh stream over fresh directories."""

    def __init__(self, work, seed: int, spark, seconds: float):
        from docling_api_spark.streaming.jobs import start_conversion_stream

        self.spark = spark
        self.landing = work.fresh("stream-landing")
        self.results = work.fresh("stream-results")
        self.query = start_conversion_stream(
            spark, self.landing, self.results, work.fresh("stream-ckpt")
        )
        rng = random.Random(f"{seed}/stream")
        kinds: dict[str, str] = {}

        def name_of(stem: str) -> str:
            kind = rng.choice(corpus.STREAM_KINDS)
            name = f"{stem}.{corpus.EXTENSIONS[kind]}"
            kinds[name] = kind
            return name

        self.arrivals = schedule(seconds, RATE, BATCH_EVERY, BATCH_SIZE, name_of)
        self.payloads = {name: corpus.build(kind, rng) for name, kind in kinds.items()}
        self.expect = Expectations()
        for name, data in self.payloads.items():
            self.expect.add(name, data)

    def land(self, name: str) -> None:
        write_atomic(os.path.join(self.landing, name), self.payloads[name])

    def status(self, arrival) -> dict:
        from docling_api_spark.streaming.jobs import get_batch_status, get_job_status

        if arrival.is_batch:
            return get_batch_status(
                self.spark, self.results, arrival.job_id, expected=len(arrival.members)
            )
        return get_job_status(self.spark, self.results, arrival.job_id)

    def ready(self) -> None:
        """Submit one job and poll it to a terminal state: the stream is up."""
        from docling_api_spark.pipeline.schemas import JOB_IN_PROGRESS
        from docling_api_spark.streaming.jobs import get_job_status

        name = "ready.md"
        self.payloads[name] = b"# ready\n\nfirst result"
        self.land(name)
        end = time.perf_counter() + READY_S
        while get_job_status(self.spark, self.results, name)["status"] == JOB_IN_PROGRESS:
            if time.perf_counter() > end:
                raise TimeoutError("stream produced no first result")
            time.sleep(0.05)

    def check(self, sent, tally) -> None:
        """Every job's terminal status and markdown, batch members too."""
        from docling_api_spark.pipeline.schemas import JOB_FAILURE, JOB_SUCCESS

        for rec in sent:
            st = rec.status
            if st is None:
                tally.fail("job not terminal at run end")
                continue
            if rec.arrival.is_batch:
                members = st["conversion_results"]
                ok = st["status"] == JOB_SUCCESS and len(members) == len(rec.arrival.members)
                for name, m in zip(sorted(rec.arrival.members), members):
                    exp = self.expect.by_name[name]
                    ok = ok and m["status"] == (JOB_SUCCESS if exp["ok"] else JOB_FAILURE)
                    if exp["ok"]:
                        ok = ok and md_hash(m["result"]["markdown"]) == exp["md"]
                tally.check(ok, "wrong batch status")
                continue
            exp = self.expect.by_name[rec.arrival.job_id]
            ok = st["status"] == (JOB_SUCCESS if exp["ok"] else JOB_FAILURE)
            if ok and exp["ok"]:
                res = st["result"]
                ok = (
                    md_hash(res["markdown"]) == exp["md"]
                    and res["filename"] == exp["filename"]
                    and len(res["images"]) == exp["images"]
                )
            tally.check(ok, "wrong job status")


def layer_metrics(spark, work, seed: int, seconds: float, tally, tracer, counters) -> dict:
    """Run one open-loop window of `seconds`; return the streaming.jobs
    layer metrics. Jobs are checked after the window and feed `tally`."""
    from docling_api_spark.pipeline.schemas import JOB_IN_PROGRESS

    w = _Window(work, seed, spark, seconds)
    w.ready()
    pending: collections.deque = collections.deque()
    polls: list[tuple[float, float]] = []  # (start, duration), window clock
    stop = threading.Event()
    t0 = time.perf_counter()

    def poller() -> None:
        while not stop.is_set():
            try:
                rec = pending.popleft()
            except IndexError:
                time.sleep(0.005)
                continue
            a = time.perf_counter()
            if rec.next_poll > a - t0:
                time.sleep(rec.next_poll - (a - t0))
                a = time.perf_counter()
            with tracer.span("jobs.poll", request=rec.arrival.job_id):
                st = w.status(rec.arrival)
            b = time.perf_counter()
            polls.append((a - t0, b - a))
            rec.next_poll = a - t0 + POLL_INTERVAL_S
            if st["status"] == JOB_IN_PROGRESS:
                pending.append(rec)
            else:
                rec.done_at, rec.status = b - t0, st

    def send(rec) -> None:
        with tracer.span("jobs.submit", request=rec.arrival.job_id):
            for name in rec.arrival.members or (rec.arrival.job_id,):
                w.land(name)
        pending.append(rec)

    errors: list[BaseException] = []

    def guarded() -> None:
        try:
            poller()
        except BaseException as exc:  # reported after the window
            errors.append(exc)
            stop.set()

    threads = [threading.Thread(target=guarded) for _ in range(POLLERS)]
    for t in threads:
        t.start()
    try:
        sent = OpenLoop(w.arrivals, send).run(t0)
        deadline = t0 + w.arrivals[-1].due + DRAIN_S
        while pending and not stop.is_set() and time.perf_counter() < deadline:
            time.sleep(0.02)
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=60)
        progress = w.query.recentProgress
        w.query.stop()
    if errors:
        raise errors[0]
    counters.take()  # the window's Spark work is not a request's
    w.check(sent, tally)

    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    dur = [p["durationMs"] for p in data]
    poll_s = [d for _, d in sorted(polls)]
    q = max(1, len(poll_s) // 4)
    return {
        "stream.batches": len(data),
        "stream.trigger_s_p50": statistics.median(d.get("triggerExecution", 0) for d in dur) / 1e3,
        "stream.add_batch_s_p50": statistics.median(d.get("addBatch", 0) for d in dur) / 1e3,
        "stream.commit_s_p50": statistics.median(
            d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur
        ) / 1e3,
        "stream.rows_per_batch": statistics.mean(p["numInputRows"] for p in data),
        "stream.results_files": len(glob.glob(os.path.join(w.results, "*.parquet"))),
        "jobs.poll_s_first_quarter": statistics.median(poll_s[:q]),
        "jobs.poll_s_last_quarter": statistics.median(poll_s[-q:]),
        "loadgen.late_s_max": max(r.late for r in sent),
    }
