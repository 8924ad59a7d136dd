"""Spans around the calls into each layer, recorded from the benchmark's own
files, and the Spark event-log reader that splits executor work by span.

A span has a name, start, end and parent.  Spans are kept in memory and
summarised when the run ends.  Each span sets the Spark job group to its
own id, so the event log attributes every job (and its stages' task
metrics) to the innermost span that issued it.  Jobs whose group is not a
span (micro-batches run on the streaming thread) are attributed by time
to the innermost span open when they were submitted.

Tracing is installed by wrapping public callables of the package at run
time (``install``); nothing in ``tsaug_spark`` changes.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import threading
import time


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        with self._lock:
            sid = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            rec = {"id": sid, "name": name, "parent": parent,
                   "start": time.time(), "end": None, "attrs": attrs}
            self.spans.append(rec)
            self._stack.append(sid)
        self._set_group(sid, name)
        try:
            yield attrs
        finally:
            rec["end"] = time.time()
            with self._lock:
                self._stack.remove(sid)
                top = self._stack[-1] if self._stack else None
            if top is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self._set_group(top, self.spans[top]["name"])

    def _set_group(self, sid: int, name: str) -> None:
        self.sc.setJobGroup(f"pb-span-{sid}", name)

    def wrap(self, name: str, fn, after=None):
        """``fn`` inside a span; ``after(result, *args)`` may add attrs."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as attrs:
                out = fn(*args, **kwargs)
                if after is not None:
                    attrs.update(after(out, *args))
                return out

        return traced


def install(tracer: Tracer) -> None:
    """Wrap the public entry points of each layer, for this process only."""
    from tsaug_spark.sources import checkpoint, tables
    from tsaug_spark.streaming import stream_sink

    job_cls = checkpoint.RollupJob
    for m in ("run", "cascade_tier", "op_downsample_tier",
              "enforce_retention", "update", "cascade_update"):
        setattr(job_cls, m, tracer.wrap(f"checkpoint.{m}",
                                        getattr(job_cls, m)))

    def written(_snap, table, *_args):
        # every commit lands in a fresh snapshot directory: its data
        # files are exactly the bytes this commit wrote
        return {"bytes_written": sum(s for _p, s in table.data_files())}

    tbl = tables.ParquetSnapshotTable
    for m in ("append", "overwrite", "overwrite_partitions"):
        setattr(tbl, m, tracer.wrap("tables.commit", getattr(tbl, m),
                                    after=written))
    # run_stream_ingest_once resolves this name at call time
    stream_sink.merge_batch_into_tier = tracer.wrap(
        "stream.merge", stream_sink.merge_batch_into_tier
    )


def stream_listener(progress: list):
    """A StreamingQueryListener that keeps every progress report."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            progress.append({
                "t": time.time(),
                "rows": p.numInputRows,
                "duration": dict(p.durationMs),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_bytes": sum(
                    s.memoryUsedBytes for s in p.stateOperators
                ),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


# ----------------------------------------------------------- event log
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def read_event_log(log_dir: str) -> "list[dict]":
    """One record per Spark job: submit time, job group and the summed
    task metrics of its stages."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "submit": ev["Submission Time"] / 1000.0,
                        "group": props.get("spark.jobGroup.id"),
                        "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
                        "gc_s": 0.0, "input_b": 0, "shuffle_w_b": 0,
                        "spill_b": 0, "py_sent_b": 0, "py_recv_b": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    tm = ev.get("Task Metrics")
                    if jid is None or tm is None:
                        continue
                    j = jobs[jid]
                    j["tasks"] += 1
                    j["run_s"] += tm["Executor Run Time"] / 1e3
                    j["cpu_s"] += tm["Executor CPU Time"] / 1e9
                    j["gc_s"] += tm["JVM GC Time"] / 1e3
                    j["input_b"] += tm["Input Metrics"]["Bytes Read"]
                    j["shuffle_w_b"] += (
                        tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    )
                    j["spill_b"] += (
                        tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
                    )
                    for acc in ev["Task Info"].get("Accumulables", []):
                        name = acc.get("Name")
                        if name == _PY_SENT:
                            j["py_sent_b"] += int(acc.get("Update", 0))
                        elif name == _PY_RECV:
                            j["py_recv_b"] += int(acc.get("Update", 0))
    return list(jobs.values())


# ------------------------------------------------------------ summary
def _self_s(span: dict, spans: "list[dict]") -> float:
    """Span duration minus the part of it its children cover."""
    kids = sorted((s["start"], s["end"]) for s in spans
                  if s["parent"] == span["id"])
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in kids:
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (span["end"] - span["start"]) - covered


def summarise(spans: "list[dict]", jobs: "list[dict]",
              window: "tuple[float, float]", source_bytes: int) -> dict:
    """Per-layer metrics of the traced pass that ran in ``window``;
    ``source_bytes`` is the size of the transcripts each ``run`` call was
    given."""
    lo, hi = window
    by_id = {s["id"]: s for s in spans}

    def chain(sid):
        while sid is not None:
            yield by_id[sid]
            sid = by_id[sid]["parent"]

    def owner(job):
        g = job["group"] or ""
        if g.startswith("pb-span-") and int(g[8:]) in by_id:
            return int(g[8:])
        best = None
        for s in spans:
            if s["start"] <= job["submit"] <= s["end"]:
                if best is None or s["start"] >= by_id[best]["start"]:
                    best = s["id"]
        return best

    jobs = [j for j in jobs if lo <= j["submit"] <= hi]
    owned = [(j, [s["name"] for s in chain(owner(j))]) for j in jobs]

    def total(key, pred):
        return sum(j[key] for j, names in owned if pred(names))

    def named(name):
        return [s for s in spans if s["name"] == name]

    def wall(name):
        return sum(s["end"] - s["start"] for s in named(name))

    writes = ("run", "cascade_tier", "op_downsample_tier",
              "enforce_retention", "update", "cascade_update")
    out = {f"checkpoint.{m}.wall_s": wall(f"checkpoint.{m}") for m in writes}
    q = [1e3 * (s["end"] - s["start"])
         for s in named("checkpoint.query_series")]
    out["checkpoint.query_series.p50_ms"] = statistics.median(q) if q else 0.0
    write_names = {f"checkpoint.{m}" for m in writes}
    calls = [s for s in spans
             if s["parent"] is None and s["name"] in write_names]
    in_calls = lambda n: any(x in write_names for x in n)  # noqa: E731
    in_commit = lambda n: "tables.commit" in n  # noqa: E731
    in_ops = lambda n: "checkpoint.op_downsample_tier" in n  # noqa: E731
    out["checkpoint.spark_jobs"] = (
        sum(1 for _j, n in owned if in_calls(n)) / len(calls)
        if calls else 0.0
    )
    # every run() call scans its source once per pending partition
    src = source_bytes * len(named("checkpoint.run"))
    out["checkpoint.input_read_amp"] = (
        total("input_b", lambda n: "checkpoint.run" in n
              and not in_commit(n)) / src if src else 0.0
    )
    commits = named("tables.commit")
    out["tables.commits"] = len(commits)
    out["tables.commit.self_s"] = sum(_self_s(s, spans) for s in commits)
    out["tables.commit.p50_ms"] = (
        statistics.median(1e3 * (s["end"] - s["start"]) for s in commits)
        if commits else 0.0
    )
    out["tables.bytes_written_mb"] = sum(
        s["attrs"].get("bytes_written", 0) for s in commits) / 1e6
    out["tables.bytes_read_mb"] = total("input_b", in_commit) / 1e6
    out["compute.executor_cpu_s"] = total(
        "cpu_s", lambda n: in_calls(n) and not in_commit(n))
    out["codec.python_mb_sent"] = total(
        "py_sent_b", lambda n: not in_ops(n)) / 1e6
    out["codec.python_mb_recv"] = total(
        "py_recv_b", lambda n: not in_ops(n)) / 1e6
    ops = named("checkpoint.op_downsample_tier")
    out["operators.wall_s"] = sum(_self_s(s, spans) for s in ops)
    out["operators.python_mb_sent"] = total("py_sent_b", in_ops) / 1e6
    merges = named("stream.merge")
    out["stream.merge.self_s"] = sum(_self_s(s, spans) for s in merges)
    out["spark.jobs"] = len(jobs)
    for key, name, scale in (
        ("tasks", "spark.tasks", 1), ("run_s", "spark.executor_run_s", 1),
        ("cpu_s", "spark.executor_cpu_s", 1), ("gc_s", "spark.gc_s", 1),
        ("shuffle_w_b", "spark.shuffle_write_mb", 1e6),
        ("spill_b", "spark.spill_mb", 1e6),
    ):
        out[name] = sum(j[key] for j in jobs) / scale
    out["spark.python_mb"] = sum(
        j["py_sent_b"] + j["py_recv_b"] for j in jobs) / 1e6
    # the traced pass's wall minus what its top-level spans cover
    out["trace.uncovered_s"] = _self_s(
        {"id": -1, "start": lo, "end": hi},
        [{"parent": -1, "start": s["start"], "end": s["end"]}
         for s in spans if s["parent"] is None],
    )
    out["trace.spans"] = len(spans)
    return out


def stream_metrics(progress: "list[dict]") -> dict:
    live = [p for p in progress if p["rows"] > 0]
    trig = [p["duration"].get("triggerExecution", 0) for p in live]
    return {
        "stream.batches": len(live),
        "stream.trigger_p50_ms": statistics.median(trig) if trig else 0.0,
        "stream.add_batch_s": sum(
            p["duration"].get("addBatch", 0) for p in live) / 1e3,
        "stream.state_rows": max((p["state_rows"] for p in live), default=0),
        "stream.state_mb": max(
            (p["state_bytes"] for p in live), default=0) / 1e6,
    }
