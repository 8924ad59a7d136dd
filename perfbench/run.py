"""Product-path benchmark for tsaug_spark.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Runs one workload (backfill or stream_ingest; see perfbench/README.md)
on ``local[<cpus>]`` in this process, checks the
program's outputs, and prints two JSON lines on stdout: a full report with
provenance, then the result object whose ``metrics`` are the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).

A traced run does one untraced pass and then one traced pass of the same
work; the difference of their walls is the tracing overhead.  Every exit
path stops the streams, the session, the gateway JVM and the Python
workers; a process that outlives the teardown fails the run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import (  # noqa: E402
    ROOT, Interrupted, SparkProcess, cpus, ignore_signals,
    install_signal_handlers, teardown,
)

UNITS = {"turns_per_s": "turns/s", "points_per_s": "points/s",
         "write_amp": "ratio", "codec.compression_ratio": "ratio",
         "checkpoint.input_read_amp": "ratio"}
SUFFIX_UNITS = (("_ms", "ms"), ("_s", "s"), (".s", "s"), ("_pct", "%"))


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    if "_mb" in name:
        return "MB"
    for suffix, unit in SUFFIX_UNITS:
        if name.endswith(suffix):
            return unit
    return "count"


def parse_args(argv):
    ap = argparse.ArgumentParser(description="tsaug_spark product-path "
                                             "benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke test uses < 1)")
    return ap.parse_args(argv)


def git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() or "unknown"


def measure(args, work: str, state: dict) -> None:
    """Set-up, timed passes and checks inside one Spark session.  Fills
    ``state``; the caller owns teardown."""
    import pandas
    import pyarrow
    import pyspark
    from pyspark.sql import functions as F

    from tracing import Tracer, install, stream_listener
    from workloads import WORKLOADS, live_files, log

    log_dir = os.path.join(work, "eventlog")
    extra = {}
    if args.trace:
        os.makedirs(log_dir)
        extra = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": "file://" + log_dir,
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.rolling.enabled": "false"}
    sp = SparkProcess(work, extra)
    spark = sp.spark
    tracer = Tracer(spark.sparkContext)
    progress: list = []
    if args.trace:
        install(tracer)
        spark.streams.addListener(stream_listener(progress))
    wl = WORKLOADS[args.workload](spark, tracer, work, args.seed, args.scale)
    state["wl"] = wl
    wl.setup()
    setup_s = sp.start_s + wl.datagen_s + wl.prestate_s + wl.warmup_s
    log(f"{wl.name}: set-up {setup_s:.1f}s (session {sp.start_s:.1f}, "
        f"datagen {wl.datagen_s:.1f}, pre-state {wl.prestate_s:.1f}, "
        f"warm-up {wl.warmup_s:.1f}), timed part starts")
    if args.trace:
        t0 = time.perf_counter()
        wl.one_pass()
        untraced = time.perf_counter() - t0
        tracer.enabled = True
        start = time.time()
        t0 = time.perf_counter()
        wl.one_pass()
        traced = time.perf_counter() - t0
        tracer.enabled = False
        state["trace"] = (tracer.spans, (start, time.time()), progress,
                          log_dir)
    else:
        t0 = time.perf_counter()
        while True:
            wl.one_pass()
            if time.perf_counter() - t0 >= args.seconds:
                break
    log(f"{wl.name}: timed part done after {wl.passes} pass(es), checking")
    t0 = time.perf_counter()
    wl.check_all()
    log(f"{wl.name}: checks took {time.perf_counter() - t0:.1f}s")
    state["provenance"] = {
        "cpus": cpus(), "master": sp.master,
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__, "git_commit": git_commit(),
        "workload": wl.name, "seed": args.seed, "scale": args.scale,
        "input_hash": wl.input_hash,
        "turns": wl.turns, "P": wl.partitions, "passes": wl.passes,
        "K": len(wl.refresh_walls), "queries": len(wl.read_ms),
    }
    if not args.trace:
        state["values"] = wl.metrics()
        state["values"]["peak_rss_mb"] = sp.peak_rss_mb()
        state["values"]["setup_s"] = setup_s
        return
    job = wl.last_job
    man = (job.manifest.read(spark)
           .filter((F.col("committed_at") >= state["trace"][1][0])
                   & F.col("tier").isin("1m", "1h", "1d"))
           .agg(F.sum("bytes_raw"), F.sum("bytes_compressed"))
           .collect()[0])
    raw, comp = man[0] or 0, man[1] or 0
    state["values"] = {
        "session.start_s": sp.start_s,
        "datagen.s": wl.datagen_s,
        "tables.files_live": live_files(job.work_dir),
        "codec.compression_ratio": raw / comp if comp else 0.0,
        "trace.overhead_s": traced - untraced,
        "trace.overhead_pct": 100.0 * (traced - untraced) / untraced,
    }


def layer_values(state: dict) -> dict:
    """Per-layer metrics; the event log is complete once Spark stopped."""
    from tracing import read_event_log, stream_metrics, summarise

    spans, window, progress, log_dir = state["trace"]
    values = summarise(spans, read_event_log(log_dir), window,
                       state["wl"].source_bytes)
    values.update(stream_metrics([p for p in progress
                                  if p["t"] >= window[0]]))
    values.update(state["values"])
    return values


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401
        import tsaug_spark  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}",
              file=sys.stderr)
        return 2
    work = os.path.join(HERE, f".work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    state: dict = {}
    failed = False
    install_signal_handlers()
    try:
        try:
            measure(args, work, state)
        except (Exception, Interrupted):  # noqa: BLE001 - reported below
            failed = True
            traceback.print_exc()
        finally:
            ignore_signals()
            t_td = time.perf_counter()
            survivors = teardown()
            print(f"[perfbench] teardown {time.perf_counter() - t_td:.1f}s, "
                  f"process {time.perf_counter() - T0:.1f}s", file=sys.stderr)
        if survivors:
            print("perfbench: FAILED: processes outlived the teardown and "
                  f"were killed: {survivors}", file=sys.stderr)
            return 3
        if failed:
            return 1
        values = layer_values(state) if args.trace else state["values"]
        metrics = {k: {"value": float(v), "unit": unit_of(k)}
                   for k, v in values.items()}
        wl = state["wl"]
        print(json.dumps({"provenance": state["provenance"],
                          "ops": wl.ops, "ops_failed": wl.failed,
                          "metrics": metrics}))
        print(json.dumps({"correct": wl.failed == 0, "attempted": wl.ops,
                          "failed": wl.failed, "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
