"""Smoke test of the benchmark itself, at a tiny input.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that every metric named in BENCHMARK.json prints with its unit, that
the correctness checks pass, that a non-default seed changes the input, and
that no Java or Python worker process outlives a run: after a normal exit,
and after SIGTERM arrives in the middle of a stream round.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _bench_pids() -> set:
    """Live processes a benchmark run started: they all inherit its
    TMPDIR, which points into perfbench/.work-<pid>."""
    mark = os.path.join(HERE, ".work-").encode()
    out = set()
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as fh:
                if mark in fh.read():
                    out.add(int(name))
        except OSError:
            continue
    return out


def _cmd(workload, seed, trace=0, seconds=1):
    return [sys.executable, os.path.join(HERE, "run.py"),
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--scale", "0.1"]


@functools.lru_cache(maxsize=None)
def _run(workload, seed, trace=0):
    p = subprocess.run(_cmd(workload, seed, trace), cwd=ROOT,
                       capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    assert not _bench_pids(), "a process outlived the run"
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_end_to_end_metrics_and_checks(workload):
    report, result = _run(workload, seed=5)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    for m in SPEC["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert got["value"] > 0, m["name"]
    assert set(result["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert report["provenance"]["seed"] == 5


def test_per_layer_metrics_and_new_seed():
    report, result = _run("stream_ingest", seed=6, trace=1)
    assert result["correct"]
    for m in SPEC["per_layer"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
    assert set(result["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    first, _ = _run("stream_ingest", seed=5)
    assert (report["provenance"]["input_hash"]
            != first["provenance"]["input_hash"])


def test_sigterm_mid_stream_leaves_no_process():
    p = subprocess.Popen(_cmd("stream_ingest", 7, seconds=600), cwd=ROOT,
                         stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         text=True)
    try:
        for line in p.stderr:
            if "timed part starts" in line:
                break
        time.sleep(2)  # inside the first ingest round
        p.send_signal(signal.SIGTERM)
        out, _err = p.communicate(timeout=120)
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    assert p.returncode not in (0, None)
    assert '"correct"' not in out
    assert not _bench_pids(), "a process outlived SIGTERM"


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work-*", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "backfill",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
