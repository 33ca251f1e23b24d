"""Benchmark entry point.

    python3 perfbench/run.py --workload convert_batch --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. Prints a report of every metric with its
unit, then, as the last line, one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with `--trace 0`, the
per-layer metrics (from a traced run, which also measures untraced to
report the tracing overhead) with `--trace 1`.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 3  # session set-ups per run; setup_s is their median
DEADLINE_S = 170


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _workloads():
    from perfbench.workloads.convert_batch import ConvertBatch
    from perfbench.workloads.query_mix import QueryMix

    return {w.name: w for w in (ConvertBatch, QueryMix)}


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def run(args) -> dict:
    from perfbench import metrics, sparkenv
    from perfbench.spans import STAGE_FIELDS, SparkCounters, Tracer
    from perfbench.stats import Tally

    workloads = _workloads()
    if args.workload not in workloads:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(workloads)}")
    work = sparkenv.WorkDir(args.workload)
    spark = None
    try:
        settings = sparkenv.pin_environment(work)
        wl = workloads[args.workload](work, args.seed)
        setups, starts, ships = [], [], []
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark, start_s, ship_s = sparkenv.start_session(work)
            wl.first_result(spark)
            setups.append(time.perf_counter() - t0)
            starts.append(start_s)
            ships.append(ship_s)
        tally = Tally()
        e2e = wl.measure(spark, args.seconds, tally, Tracer(False))
        e2e["setup_s"] = statistics.median(setups)
        layers = dict.fromkeys(metrics.PER_LAYER, 0.0)
        if args.trace:
            tracer = Tracer(True)
            counters = SparkCounters(spark)
            traced = wl.measure(spark, args.seconds, tally, tracer, counters)
            layers["trace.overhead.latency_p50_s"] = (
                traced["latency_p50_s"] - e2e["latency_p50_s"]
            )
            for k in STAGE_FIELDS:
                layers[k] = statistics.median(w[k] for w in traced["work"])
            layers.update(wl.layer_metrics(spark, tracer, counters, traced, tally))
            layers["session.cold_start_s"] = setups[0]
            layers["session.start_s"] = statistics.median(starts)
            layers["session.ship_s"] = statistics.median(ships)
            layers["session.peak_rss_mb"] = sparkenv.peak_rss_mb(spark)
            os.makedirs(sparkenv.OUT_ROOT, exist_ok=True)
            tracer.dump(os.path.join(
                sparkenv.OUT_ROOT, f"trace-{args.workload}-seed{args.seed}.jsonl"
            ))
        report = wl.report(e2e)
        report["failed_ratio"] = (tally.failed_ratio, "ratio")
        return {
            "settings": settings,
            "setups": setups,
            "e2e": e2e,
            "layers": layers,
            "report": report,
            "tally": tally,
        }
    finally:
        if spark is not None:
            _stop(spark)
        work.close()


def main(argv=None) -> int:
    args = _parse(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import docling_api_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}", file=sys.stderr)
        return 2
    from perfbench.metrics import END_TO_END, UNITS

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)
    try:
        res = run(args)
    except TimeoutError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 3
    finally:
        signal.alarm(0)
    tally = res["tally"]
    s = res["settings"]
    print(
        f"# perfbench workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
        f"trace={args.trace} " + " ".join(f"{k}={v}" for k, v in s.items() if k != "SPARK_LOCAL_DIRS")
    )
    print("# setup_s samples: " + " ".join(f"{x:.3f}" for x in res["setups"]))
    print("# latency samples: " + " ".join(f"{x:.3f}" for x in res["e2e"]["samples"]))
    for name, (value, unit) in res["report"].items():
        print(f"report {name} {value:.6g} {unit}")
    for reason, n in sorted(tally.reasons.items()):
        print(f"# failure {reason}: {n}")
    if args.trace:
        chosen = res["layers"]
    else:
        chosen = {name: res["e2e"][name] for name in END_TO_END}
    for name, value in chosen.items():
        print(f"metric {name} {value:.6g} {UNITS[name]}")
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
