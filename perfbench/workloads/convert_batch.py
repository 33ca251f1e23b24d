"""`convert_batch`: closed loop, one client, the reference's own job.

Each request converts the whole seeded corpus: read_documents ->
with_size_validation -> convert_documents -> export_results("json") ->
parquet sink. The corpus mixes every supported format with unsupported and
corrupt files and a few multi-MB images; the per-file cap rejects one file
and the batch budget rejects the last tenth of the path order.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import pyarrow.parquet as pq

from perfbench import corpus
from perfbench.spans import SparkCounters
from perfbench.workloads import convert_stream
from perfbench.workloads.common import Expectations, md_hash

MAX_FILE_BYTES = 4 << 20
# The batch budget admits the bytes of this share of the path order, so
# it rejects the same tail of documents whatever their sizes.
BATCH_ACCEPT_SHARE = 0.9
STREAM_WINDOW_S = 6.0
# Requests keep getting faster for several seconds after set-up (Python
# workers start, the JIT compiles), and for longer on a busy host, so each
# window is preceded by untimed requests until their times settle.
WARMUP_S = 3.0
WARMUP_MAX_S = 8.0
WARMUP_AGREE = 1.1


class ConvertBatch:
    name = "convert_batch"

    def __init__(self, work, seed: int):
        self.work = work
        self.seed = seed
        self.docs = corpus.batch_corpus(seed)
        self.in_dir = work.sub("corpus")
        for name, data in self.docs:
            with open(os.path.join(self.in_dir, name), "wb") as f:
                f.write(data)
        self.first_dir = work.sub("first")
        with open(os.path.join(self.first_dir, "first.md"), "wb") as f:
            f.write(b"# first\n\nresult")
        ordered = sorted(self.docs)
        self.max_batch_bytes = sum(
            len(d)
            for _, d in ordered[: int(len(ordered) * BATCH_ACCEPT_SHARE)]
            if len(d) <= MAX_FILE_BYTES
        )
        self.rejected = self._expected_rejections()
        self.expect = Expectations()
        for name, data in self.docs:
            if name not in self.rejected:
                self.expect.add(name, data)

    def _expected_rejections(self) -> dict[str, str]:
        """The reference's debit order: by path, oversized files skipped."""
        out, running = {}, 0
        for name, data in sorted(self.docs):
            if len(data) > MAX_FILE_BYTES:
                out[name] = "file_too_large"
                continue
            running += len(data)
            if running > self.max_batch_bytes:
                out[name] = "batch_budget_exceeded"
        return out

    # -- the user's path ---------------------------------------------------
    def _validated(self, spark, in_dir: str | None = None):
        from docling_api_spark.sources.binaryfiles import read_documents
        from docling_api_spark.sources.validation import with_size_validation

        return with_size_validation(
            read_documents(spark, in_dir or self.in_dir),
            max_file_bytes=MAX_FILE_BYTES,
            max_batch_bytes=self.max_batch_bytes,
        )

    def _request(self, spark, out_dir: str, in_dir: str | None = None) -> None:
        from docling_api_spark.pipeline.convert import convert_documents
        from docling_api_spark.pipeline.export import export_results
        from docling_api_spark.sources.validation import split_valid

        accepted, _ = split_valid(self._validated(spark, in_dir))
        export_results(convert_documents(accepted), "json").write.parquet(out_dir)

    def _try_request(self, spark, out_dir: str, tally) -> bool:
        """A request whose raising counts as a failed operation."""
        try:
            self._request(spark, out_dir)
        except Exception as exc:
            tally.fail(f"request raised {type(exc).__name__}")
            return False
        return True

    def first_result(self, spark) -> None:
        """A request of one document: the user's first converted result."""
        self._request(spark, self.work.new_path("first"), self.first_dir)

    # -- measurement -------------------------------------------------------
    def measure(self, spark, seconds: float, tally, tracer, counters=None) -> dict:
        """Requests back to back for `seconds` (at least three); outputs are
        checked after the window. A request that raises is failed and not
        checked. With `counters`, also the Spark work of each request."""
        self._warm_up(spark, tally)
        if counters is not None:
            counters.take()
        lat, outs, work = [], [], []
        end = time.perf_counter() + seconds
        while time.perf_counter() < end or len(lat) < 3:
            out = self.work.new_path("sink")
            t0 = time.perf_counter()
            with tracer.span("convert_batch.request", request=f"req-{len(lat)}"):
                ok = self._try_request(spark, out, tally)
                if counters is not None:
                    work.append(counters.take())
            lat.append(time.perf_counter() - t0)
            if ok:
                outs.append(out)
        for out in outs:
            self._check(out, tally)
        return {
            "latency_p50_s": statistics.median(lat),
            "samples": lat,
            "work": work,
        }

    def report(self, e2e: dict) -> dict:
        from perfbench.stats import summarize

        lat = summarize(e2e["samples"])
        out = {
            "docs_per_s": (len(self.docs) / lat["median"], "docs/s"),
            "corpus_docs": (len(self.docs), "count"),
            "corpus_mb": (sum(len(d) for _, d in self.docs) / 1e6, "MB"),
            "request_p50_s": (lat["median"], "s"),
            "requests": (lat["n"], "count"),
        }
        if lat["tail_p"] is not None:
            out[f"request_p{lat['tail_p']:g}_s"] = (lat["tail"], "s")
        return out

    def layer_metrics(self, spark, tracer, counters, traced: dict, tally) -> dict:
        passes = [
            self.trace_pass(spark, tracer, counters, f"traced-{i}", tally)
            for i in range(3)
        ]
        out = {k: statistics.median(p[k] for p in passes) for k in passes[0]}
        out.update(self.expect.layer_metrics())
        out["convert.boundary_s"] = out["convert.stage_run_s"] - sum(
            self.expect.convert_s.values()
        )
        # The streaming.jobs layer is measured here, on a short open-loop
        # window of the async path, since the stream is not a benchmark
        # workload of its own (see perfbench/README.md).
        out.update(convert_stream.layer_metrics(
            spark, self.work, self.seed, STREAM_WINDOW_S, tally, tracer, counters
        ))
        return out

    def _warm_up(self, spark, tally) -> None:
        """Untimed requests for at least WARMUP_S, until the last three
        agree within WARMUP_AGREE (or WARMUP_MAX_S has passed)."""
        start = time.perf_counter()
        recent: list[float] = []
        while True:
            t0 = time.perf_counter()
            self._try_request(spark, self.work.new_path("warmup"), tally)
            recent = (recent + [time.perf_counter() - t0])[-3:]
            elapsed = time.perf_counter() - start
            steady = len(recent) == 3 and max(recent) <= WARMUP_AGREE * min(recent)
            if elapsed >= WARMUP_MAX_S or (elapsed >= WARMUP_S and steady):
                return

    def _check(self, out_dir: str, tally) -> None:
        """Every accepted file appears once with the expected error state,
        filename, markdown and image count; no rejected file appears."""
        rows = pq.read_table(out_dir).to_pylist()
        seen = set()
        for r in rows:
            name = r["path"].rsplit("/", 1)[-1]
            exp = self.expect.by_name.get(name)
            if exp is None or name in seen:
                tally.fail("unexpected row")
                continue
            seen.add(name)
            doc = json.loads(r["content"])
            ok = (
                (r["error"] is None) == exp["ok"]
                and r["filename"] == exp["filename"]
                and md_hash(doc.get("markdown")) == exp["md"]
                and len(doc.get("images", [])) == exp["images"]
            )
            tally.check(ok, "wrong conversion output")
        missing = len(self.expect.by_name) - len(seen)
        if missing:
            tally.fail("missing row", missing)

    def trace_pass(
        self, spark, tracer, counters: SparkCounters, rid: str, tally
    ) -> dict:
        """One request split at the layer boundaries, each step materialized
        so its time and Spark work are measured alone. Returns layer metrics.
        The materialized conversion output also has each row's classified
        format, which is checked here (the exported sink does not carry it)."""
        from docling_api_spark.pipeline.convert import convert_documents
        from docling_api_spark.pipeline.export import export_results
        from docling_api_spark.sources.validation import split_valid

        m: dict = {}
        counters.take()
        with tracer.span("convert_batch.traced_request", request=rid):
            with tracer.span("plans.build"):
                t0 = time.perf_counter()
                validated = self._validated(spark)
                m["plans.build_s"] = time.perf_counter() - t0
            m["plans.build_jobs"] = counters.take()["spark.jobs"]
            with tracer.span("sources.scan_validate"):
                t0 = time.perf_counter()
                validated = validated.persist()
                accepted, rejected = split_valid(validated)
                m["sources.rejected"] = rejected.count()
                m["sources.scan_validate_s"] = time.perf_counter() - t0
            counters.take()
            with tracer.span("pipeline.convert"):
                converted = convert_documents(accepted).persist()
                converted.count()
            m["convert.stage_run_s"] = counters.take()["spark.exec_s"]
            for r in converted.select("path", "format").collect():
                exp = self.expect.by_name.get(r["path"].rsplit("/", 1)[-1])
                tally.check(exp is not None and r["format"] == exp["format"], "wrong format")
            with tracer.span("pipeline.export"):
                t0 = time.perf_counter()
                export_results(converted, "json").write.parquet(self.work.new_path("sink"))
                m["export.write_s"] = time.perf_counter() - t0
            counters.take()
            converted.unpersist()
            validated.unpersist()
        return m
