"""Process plumbing for the benchmark: Spark session start, a teardown that
never leaves a JVM or Python worker behind, /proc readings and content
hashes for the correctness checks.

Everything the benchmark writes (Spark local dirs, JVM temp files, event
logs, job stores) stays under one work directory inside ``perfbench/``.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cpus() -> int:
    return len(os.sched_getaffinity(0))


class Interrupted(BaseException):
    """Raised in the main thread when SIGTERM or SIGINT arrives; a
    BaseException, so ``except Exception`` in library code cannot swallow
    it."""


def _raise_interrupted(signum, _frame):
    raise Interrupted(f"signal {signum}")


def install_signal_handlers() -> None:
    for s in (signal.SIGTERM, signal.SIGINT):
        signal.signal(s, _raise_interrupted)


def ignore_signals() -> None:
    """Teardown must run to its end once it has started."""
    for s in (signal.SIGTERM, signal.SIGINT):
        signal.signal(s, signal.SIG_IGN)


# ---------------------------------------------------------------- /proc
def _stat(pid: int) -> "tuple[int, str, str] | None":
    """(ppid, state, starttime) of a live process, or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    return int(fields[1]), fields[0], fields[19]


def descendants(root_pid: int) -> "dict[int, str]":
    """{pid: starttime} of every live process below ``root_pid``."""
    children: dict[int, list[int]] = {}
    starts: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is None or st[1] == "Z":
            continue
        children.setdefault(st[0], []).append(int(name))
        starts[int(name)] = st[2]
    out: dict[int, str] = {}
    todo = [root_pid]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out[c] = starts[c]
                todo.append(c)
    return out


def _alive(pid: int, start: str) -> bool:
    st = _stat(pid)
    return st is not None and st[1] != "Z" and st[2] == start


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set size (VmHWM) of ``pid`` in kB, 0 if unknown."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def dir_bytes(path: str) -> int:
    """Bytes of every file under ``path``."""
    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
            except OSError:
                pass
    return total


# --------------------------------------------------------------- session
class SparkProcess:
    """One local Spark session with the benchmark's settings; end it with
    ``teardown``."""

    def __init__(self, work_dir: str, extra_conf: "dict | None" = None):
        tmp = os.path.join(work_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # Python workers import tsaug_spark from the checkout; temp files
        # of the launcher, the JVM and the block manager stay in work_dir
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        from tsaug_spark.session import get_spark

        conf = {
            # A fixed-size heap keeps the JVM's peak RSS from depending on
            # when G1 decides to grow the heap.  A run lasts about a minute,
            # too short for C2 to reach its steady state: its compile
            # threads took about 40% of the CPU of the timed part, so the
            # JIT stops at C1 and the timed part measures the program.  At
            # the default thresholds C1 kept compiling through the first
            # two or three passes (each pass ran faster than the one
            # before); a twentieth of them lets the warm-up finish the job.
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": (
                "-Xms1g -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=512m"
                " -XX:CompileThresholdScaling=0.05"
                f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
            ),
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        conf.update(extra_conf or {})
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench", master=f"local[{cpus()}]", extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0
        self.master = self.spark.sparkContext.master
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid

    def peak_rss_mb(self) -> float:
        """VmHWM of the Spark JVM plus this Python driver, in MB."""
        kb = vm_hwm_kb(self.jvm_pid) + vm_hwm_kb(os.getpid())
        return kb / 1024.0


def teardown() -> "list[int]":
    """Stop every stream, the session, the gateway JVM and its Python
    workers, whatever state a run ended in.  Returns the pids that
    outlived the teardown (then killed); empty means a clean teardown."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    seen = descendants(os.getpid())
    session = SparkSession._instantiatedSession
    try:
        if session is not None:
            for q in session.streams.active:
                try:
                    q.stop()
                except Exception:  # noqa: BLE001 - keep tearing down
                    pass
    finally:
        try:
            sc = SparkContext._active_spark_context
            if session is not None:
                session.stop()
            elif sc is not None:
                sc.stop()
        finally:
            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None)
            try:
                if gw is not None:
                    gw.shutdown()
            finally:
                if proc is not None:
                    _reap(proc)
                SparkContext._gateway = None
                SparkContext._jvm = None
    return _sweep(seen)


def _reap(proc: subprocess.Popen) -> None:
    """The gateway JVM exits when its stdin closes; kill it if it does not."""
    try:
        if proc.stdin is not None:
            proc.stdin.close()
    except OSError:
        pass
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)


def _sweep(seen: "dict[int, str]") -> "list[int]":
    """Wait for the processes started during the run to exit; SIGKILL the
    ones still alive after 15 s and return their pids."""
    seen = dict(seen)
    seen.update(descendants(os.getpid()))
    deadline = time.monotonic() + 15
    while time.monotonic() < deadline:
        alive = [p for p, s in seen.items() if _alive(p, s)]
        if not alive:
            return []
        time.sleep(0.1)
    alive = [p for p, s in seen.items() if _alive(p, s)]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    for p in alive:
        try:
            os.waitpid(p, 0)
        except ChildProcessError:
            pass
    end = time.monotonic() + 5
    while time.monotonic() < end and any(
        _alive(p, seen[p]) for p in alive
    ):
        time.sleep(0.05)
    return alive


# --------------------------------------------------------------- hashing
def content_hashes(sides: dict) -> dict:
    """Order-independent content hashes of several DataFrames in one Spark
    job.  ``sides`` maps a name to ``(df, cols, casts)``; each hash is
    (row count, sum of xxhash64 over ``cols``).  ``casts`` maps a column
    to the type it is compared in, so a long tier column and its decoded
    double twin hash alike."""
    from functools import reduce

    from pyspark.sql import functions as F

    parts = []
    for name, (df, cols, casts) in sides.items():
        typed = df.select(*[
            F.col(c).cast(casts[c]).alias(c) if c in casts else F.col(c)
            for c in cols
        ])
        parts.append(typed.select(
            F.lit(name).alias("side"),
            F.xxhash64(*cols).cast("decimal(38,0)").alias("h"),
        ))
    rows = (
        reduce(lambda a, b: a.unionByName(b), parts)
        .groupBy("side")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("h"))
        .collect()
    )
    out = {name: (0, 0) for name in sides}
    out.update({r["side"]: (int(r["n"]), int(r["h"])) for r in rows})
    return out
