"""The product-path workloads, each a closed loop with one caller.

Every workload generates its input from the seed with
``tsaug_spark.datagen``, writes it as parquet, and drives the program only
through ``RollupJob`` methods, ``run_stream_ingest_once`` and
``query_series``.  A *pass* is a fixed amount of work on a fresh store, so
per-pass figures (write amplification, points) do not depend on how many
passes fit in ``--seconds``; the loop repeats passes until ``--seconds``
have been measured.  Correctness checks run after the timed passes and
count as ops.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import statistics
import sys
import time

from pyspark.sql import functions as F

from tsaug_spark.datagen import generate_transcripts
from tsaug_spark.operators import Pool
from tsaug_spark.plans.rollup import (
    METRIC_COLS, TIERS, reaggregate, rollup_transcripts,
)
from tsaug_spark.sources.checkpoint import RollupJob
from tsaug_spark.sources.tables import ParquetSnapshotTable
from tsaug_spark.streaming.stream_sink import run_stream_ingest_once

from harness import content_hashes, dir_bytes

TIER_KEYS = ["conv_id", "bucket_ts", *METRIC_COLS]
AS_DOUBLE = {c: "double" for c in METRIC_COLS}
DATAGEN_REPS = 3
GRACE = "2 hours"
RETENTION = {"1m": "2 days", "1h": "30 days"}
HOT_CONVS = 3


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def live_bytes(job_dir: str) -> int:
    """Bytes of the current snapshots' data files of every table."""
    total = 0
    for ptr in glob.glob(os.path.join(job_dir, "*", "_SNAPSHOT.json")):
        table = ParquetSnapshotTable(os.path.dirname(ptr))
        total += sum(size for _p, size in table.data_files())
    return total


def live_files(job_dir: str) -> int:
    """Data files of the current snapshots of every table."""
    return sum(
        len(ParquetSnapshotTable(os.path.dirname(p)).data_files())
        for p in glob.glob(os.path.join(job_dir, "*", "_SNAPSHOT.json"))
    )


class Workload:
    """Shared set-up, timing and checking; subclasses define a pass."""

    name = ""
    partitions = 1

    def __init__(self, spark, tracer, work_dir: str, seed: int,
                 scale: float):
        self.spark = spark
        self.tracer = tracer
        self.work = work_dir
        self.seed = seed
        self.n_convs = max(8, int(120 * scale))
        self.hot_turns = max(50, int(1500 * scale))
        self.rng = random.Random(seed)
        self.ops = 0
        self.failed = 0
        self.refresh_walls: list[float] = []
        self.read_ms: list[float] = []
        self.write_s = 0.0
        self.turns_done = 0
        self.points_done = 0
        self.bytes_written = 0
        self.bytes_live = 0
        self.passes = 0
        self.datagen_s = 0.0
        self.prestate_s = 0.0
        self.warmup_s = 0.0
        self.source_bytes = 0
        self.pending: list = []
        self.extra_sides: dict = {}

    # ---------------------------------------------------------- set-up
    def generate(self) -> str:
        """Generate the seeded input ``DATAGEN_REPS`` times (identical
        content) and keep the median time; returns the input path."""
        times = []
        for rep in range(DATAGEN_REPS):
            path = os.path.join(self.work, f"input{rep}")
            t0 = time.perf_counter()
            generate_transcripts(
                self.spark, n_convs=self.n_convs, avg_turns=40,
                hot_convs=HOT_CONVS, hot_turns=self.hot_turns,
                mean_gap_s=120, seed=self.seed,
            ).write.parquet(path)
            times.append(time.perf_counter() - t0)
            if rep:
                shutil.rmtree(path)
        self.datagen_s = statistics.median(times)
        src = os.path.join(self.work, "input0")
        df = self.spark.read.parquet(src)
        row = df.agg(
            F.count(F.lit(1)), F.min(F.unix_timestamp("ts")),
            F.max(F.unix_timestamp("ts")),
            F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")),
        ).collect()[0]
        self.turns, self.ts_lo, self.ts_hi = (int(x) for x in row[:3])
        self.input_hash = str(row[3])
        return src

    def setup(self) -> None:
        raise NotImplementedError

    def one_pass(self) -> None:
        raise NotImplementedError

    def check_all(self) -> None:
        raise NotImplementedError

    # ----------------------------------------------------------- timing
    def timed(self, fn, *args, **kwargs) -> float:
        """Time one write call (an op); returns seconds."""
        t0 = time.perf_counter()
        fn(*args, **kwargs)
        dt = time.perf_counter() - t0
        self.ops += 1
        self.write_s += dt
        return dt

    def rolled_points(self, job: RollupJob, since: float) -> int:
        """Rows committed to the algebraic tiers since ``since`` x 3
        channels, from the job's manifest."""
        row = (
            job.manifest.read(self.spark)
            .filter(F.col("tier").isin(*TIERS)
                    & (F.col("committed_at") >= since))
            .agg(F.coalesce(F.sum("points_rolled"), F.lit(0)))
            .collect()[0][0]
        )
        return int(row) * len(METRIC_COLS)

    # ------------------------------------------------------------ reads
    def pick_convs(self, i: int) -> "list[str]":
        """1-8 conversations by position, every other group of four led
        by a hot one; only which conversations is seeded."""
        ids = [f"conv-{c:08d}" for c in range(self.n_convs)]
        convs = self.rng.sample(ids[HOT_CONVS:], i % 8 + 1)
        if (i // 4) % 2 == 0:
            convs[0] = ids[self.rng.randrange(HOT_CONVS)]
        return sorted(convs)

    def make_queries(self, n: int) -> "list[dict]":
        """A query set whose spans hit the 1m, 1h and 1d tiers and the M4
        path in turn.  Shapes are fixed by position so that seeds change
        only where and which conversations a query reads."""
        span_s = self.ts_hi - self.ts_lo
        out = []
        for i in range(n):
            kind = ("1m", "1h", "1d", "m4")[i % 4]
            width = {"1m": 3 * 3600, "1h": 3 * 86400}.get(kind, 45 * 86400)
            if kind in ("1m", "1h"):
                lo = self.ts_lo + self.rng.randrange(max(1, span_s - width))
            else:
                lo = self.ts_lo - self.rng.randrange(86400)
            out.append({"lo": lo, "hi": lo + width,
                        "max_points": 16 if kind == "m4" else 500,
                        "conv_ids": self.pick_convs(i)})
        return out

    def query(self, job: RollupJob, q: dict):
        """One dashboard read: the call plus collecting its rows."""
        with self.tracer.span("checkpoint.query_series"):
            t0 = time.perf_counter()
            df, _tier, _m4 = job.query_series(
                q["lo"], q["hi"], max_points=q["max_points"],
                conv_ids=q["conv_ids"],
            )
            df.collect()
            self.read_ms.append(1e3 * (time.perf_counter() - t0))
        self.ops += 1

    # ----------------------------------------------------------- checks
    def check(self, what: str, got, want) -> None:
        self.ops += 1
        if got != want:
            self.failed += 1
            log(f"CHECK FAILED {self.name}: {what}: got {got} want {want}")

    def expect_equal(self, what: str, got, want, cols=TIER_KEYS,
                     casts=AS_DOUBLE) -> None:
        """Queue a content comparison for ``run_checks``."""
        self.pending.append((what, got, want, cols, casts))

    def hash_only(self, name: str, df) -> None:
        """Queue a DataFrame whose hash ``run_checks`` returns by name."""
        self.extra_sides[name] = (df, TIER_KEYS, AS_DOUBLE)

    def run_checks(self) -> dict:
        """Hash every queued pair (each one op) and every ``hash_only``
        side in one Spark job; returns the hashes by name."""
        sides = dict(self.extra_sides)
        for i, (_what, got, want, cols, casts) in enumerate(self.pending):
            sides[f"{i}.got"] = (got, cols, casts)
            sides[f"{i}.want"] = (want, cols, casts)
        hashes = content_hashes(sides)
        for i, (what, *_rest) in enumerate(self.pending):
            self.check(what, hashes[f"{i}.got"], hashes[f"{i}.want"])
        self.pending = []
        self.extra_sides = {}
        return hashes

    def expect_query(self, job: RollupJob, q: dict) -> None:
        """A ``query_series`` answer equals a direct filter of its tier."""
        df, tier, m4 = job.query_series(
            q["lo"], q["hi"], max_points=q["max_points"],
            conv_ids=q["conv_ids"],
        )
        width = TIERS[tier][1]
        lo_eff = q["lo"] // width * width
        rows = (
            job.read_tier(tier)
            .filter(F.col("conv_id").isin(q["conv_ids"])
                    & (F.unix_timestamp("bucket_ts") >= lo_eff)
                    & (F.unix_timestamp("bucket_ts") <= q["hi"]))
        )
        if not m4:
            self.expect_equal(f"query {tier} {q}", df, rows)
            return
        span = q["hi"] - q["lo"]
        px = max(width, -(-span // max(1, q["max_points"] // 4)))
        v = F.col("turn_rate").cast("double")
        want = (
            rows.withColumn(
                "px_ts",
                F.timestamp_seconds(
                    F.floor(F.unix_timestamp("bucket_ts") / px) * px),
            )
            .groupBy("conv_id", "px_ts")
            .agg(F.min(v).alias("vmin"), F.max(v).alias("vmax"),
                 F.min_by(v, "bucket_ts").alias("vfirst"),
                 F.max_by(v, "bucket_ts").alias("vlast"))
        )
        cols = ["conv_id", "px_ts", "vmin", "vmax", "vfirst", "vlast"]
        self.expect_equal(f"query m4 {q}", df, want, cols,
                          {c: "double" for c in cols[2:]})

    def expect_chunks(self, job: RollupJob, tier: str) -> None:
        """``decompress_tier(chunks)`` equals the tier."""
        from tsaug_spark.codec.chunks import decompress_tier

        chunks = job.table(f"tier_{tier}_chunks").read(self.spark)
        self.expect_equal(f"chunks {tier}",
                          decompress_tier(chunks, METRIC_COLS),
                          job.read_tier(tier))

    def reference_tiers(self, transcripts) -> dict:
        """Single-pass rollup of the raw input into every tier."""
        t1m = rollup_transcripts(transcripts, "1m")
        t1h = reaggregate(t1m, "1m", "1h")
        return {"1m": t1m, "1h": t1h, "1d": reaggregate(t1h, "1h", "1d")}

    # ----------------------------------------------------------- report
    def metrics(self) -> dict:
        reads = self.read_ms
        p90 = (statistics.quantiles(reads, n=10, method="inclusive")[8]
               if len(reads) > 1 else reads[0])
        return {
            "turns_per_s": self.turns_done / self.write_s,
            "points_per_s": self.points_done / self.write_s,
            "refresh_p50_s": statistics.median(self.refresh_walls),
            "query_p50_ms": statistics.median(reads),
            "query_p90_ms": p90,
            "write_amp": self.bytes_written / self.bytes_live,
        }

    def account_store(self, job_dir: str) -> None:
        """Every byte under a fresh job dir was written by the pass."""
        self.bytes_written += dir_bytes(job_dir)
        self.bytes_live += live_bytes(job_dir)


# ==================================================================
class Backfill(Workload):
    """The batch side of the product path on a cold store: the build
    sequence run('1m'), cascade 1m->1h->1d, a Pool('ave', 4) operator tier
    over 1h and retention; then one late-arrival refresh cycle (update +
    cascade_update 1m->1h->1d, grace 2 hours) folding in the last tenth of
    event time.  Once every tier exists, each write call is followed by a
    few seeded dashboard reads, so the reads sit beside the writes and
    sample the whole pass rather than its last seconds."""

    name = "backfill"
    partitions = 1
    reads_per_call = 3

    def build_calls(self, job: RollupJob, src) -> list:
        return [
            lambda: job.run(src, "1m"),
            lambda: job.cascade_tier("1m", "1h"),
            lambda: job.cascade_tier("1h", "1d"),
            lambda: job.op_downsample_tier("1h", "1h_pool4", Pool("ave", 4),
                                           min_len=4),
            lambda: job.enforce_retention(RETENTION),
        ]

    def refresh_calls(self, job: RollupJob, transcripts) -> list:
        return [
            lambda: job.update(transcripts, "1m", grace=GRACE),
            lambda: job.cascade_update("1m", "1h", grace=GRACE),
            lambda: job.cascade_update("1h", "1d", grace=GRACE),
        ]

    def setup(self) -> None:
        path = self.generate()
        src = self.spark.read.parquet(path)
        t0 = time.perf_counter()
        # the store is built from the first 90% of event time; a quarter
        # of the hour before that split is held back and arrives with the
        # last tenth, late but inside the refresh grace
        cut = self.ts_lo + (self.ts_hi - self.ts_lo) * 90 // 100
        e = F.unix_timestamp("ts")
        held = ((e >= cut - 3600) & (e < cut)
                & (F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(4)) == 0))
        self.base_path = os.path.join(self.work, "base")
        late_path = os.path.join(self.work, "late")
        src.filter((e < cut) & ~held).write.parquet(self.base_path)
        src.filter((e >= cut) | held).write.parquet(late_path)
        self.arrived = self.spark.read.parquet(self.base_path, late_path)
        self.source_bytes = dir_bytes(self.base_path)
        self.prestate_s = time.perf_counter() - t0
        # reads follow every call from the 1h->1d cascade on
        self.queries = self.make_queries(6 * self.reads_per_call)
        # warm-up: one call of each kind (run, cascade, operator tier,
        # update, cascade_update, read) at P = 1 on a one-in-sixteen slice
        # of the conversations, so the JVM's cold start lands here
        t0 = time.perf_counter()
        warm = os.path.join(self.work, "warm")
        (self.arrived.filter(F.pmod(F.xxhash64("conv_id"), F.lit(16)) == 0)
         .write.parquet(warm))
        warm_src = self.spark.read.parquet(warm)
        job = RollupJob(self.spark, os.path.join(self.work, "warm_job"),
                        n_partitions=1)
        job.run(warm_src.filter(F.unix_timestamp("ts") < cut), "1m")
        job.cascade_tier("1m", "1h")
        job.op_downsample_tier("1h", "1h_pool4", Pool("ave", 4), min_len=4)
        job.update(warm_src, "1m", grace=GRACE)
        job.cascade_update("1m", "1h", grace=GRACE)
        for q in self.queries[:2]:
            job.query_series(q["lo"], q["hi"], max_points=q["max_points"],
                             conv_ids=q["conv_ids"])[0].collect()
        self.warmup_s = time.perf_counter() - t0

    def one_pass(self) -> None:
        job = RollupJob(self.spark,
                        os.path.join(self.work, f"job-p{self.passes}"),
                        n_partitions=self.partitions)
        t0 = time.time()
        build = self.build_calls(job, self.spark.read.parquet(self.base_path))
        queries = iter(self.queries)
        refresh_s = 0.0
        for i, call in enumerate(build + self.refresh_calls(job,
                                                            self.arrived)):
            if i == len(build):
                self.refreshed_at = time.time()
            dt = self.timed(call)
            if i >= len(build):
                refresh_s += dt
            # every tier exists once the 1h->1d cascade has run
            if i >= 2:
                for _ in range(self.reads_per_call):
                    self.query(job, next(queries))
        self.refresh_walls.append(refresh_s)
        self.turns_done += self.turns
        self.points_done += self.rolled_points(job, t0)
        self.account_store(job.work_dir)
        self.last_job = job
        self.passes += 1

    def check_all(self) -> None:
        job = self.last_job
        ref = self.reference_tiers(self.arrived)
        base = self.reference_tiers(self.spark.read.parquet(self.base_path))
        part = F.pmod(F.xxhash64("conv_id"), F.lit(self.partitions))
        for tier in ("1m", "1h", "1d"):
            self.hash_only(f"base {tier}", base[tier])
            want = ref[tier]
            if tier in RETENTION:
                # expiry ran on the built store: it anchors at the coarser
                # tier's minimum per-partition watermark (latest bucket)
                coarser = {"1m": "1h", "1h": "1d"}[tier]
                cut = (
                    base[coarser].groupBy(part.alias("p"))
                    .agg(F.max("bucket_ts").alias("wm"))
                    .agg((F.min("wm") - F.expr(f"INTERVAL {RETENTION[tier]}"))
                         .alias("cut"))
                )
                want = (want.crossJoin(F.broadcast(cut))
                        .filter(F.col("bucket_ts") >= F.col("cut"))
                        .drop("cut"))
            self.expect_equal(f"tier {tier}", job.read_tier(tier), want)
        self.expect_chunks(job, "1m")
        for q in (self.queries[0], self.queries[3]):
            self.expect_query(job, q)
        hashes = self.run_checks()
        points = dict(
            job.metrics()
            .filter(F.col("committed_at") < self.refreshed_at)
            .groupBy("tier").agg(F.sum("points_rolled")).collect()
        )
        for tier in ("1m", "1h", "1d"):
            # the build's manifest points_rolled count the tier rows rolled
            self.check(f"manifest points {tier}", points.get(tier),
                       hashes[f"base {tier}"][0])


# ==================================================================
class StreamIngest(Workload):
    """Time-ordered files arrive in rounds; each round is one
    run_stream_ingest_once resuming the same checkpoint into the 1m tier
    of a P = 8 job, followed by reads of a few conversations' 1m rows."""

    name = "stream_ingest"
    partitions = 8
    rounds = 4
    files_per_round = 12
    reads_per_round = 8

    def stage(self, src_path: str, out: str, n_files: int) -> "list[str]":
        (self.spark.read.parquet(src_path)
         .repartitionByRange(n_files, "ts").sortWithinPartitions("ts")
         .write.parquet(out))
        return sorted(glob.glob(os.path.join(out, "part-*.parquet")))

    def ingest_rounds(self, tag: str, files: "list[str]", rounds: int):
        job = RollupJob(self.spark, os.path.join(self.work, f"job-{tag}"),
                        n_partitions=self.partitions)
        src_dir = os.path.join(self.work, f"arrive-{tag}")
        ckpt = os.path.join(self.work, f"ckpt-{tag}")
        os.makedirs(src_dir)
        per = -(-len(files) // rounds)
        for r in range(rounds):
            batch = files[r * per:(r + 1) * per]
            now = time.time()
            for i, f in enumerate(batch):
                # the file source takes new files oldest first; files
                # copied within one clock tick share an mtime and would be
                # taken in directory order, so micro-batches would differ
                # from run to run.  Distinct mtimes keep event-time order.
                dst = shutil.copy(f, src_dir)
                t = now - 0.01 * (len(batch) - i)
                os.utime(dst, (t, t))
            with self.tracer.span("streaming.round"):
                dt = self.timed(
                    run_stream_ingest_once, self.spark, src_dir,
                    self.schema, job, "1m", watermark="1 hour",
                    max_files_per_trigger=8, checkpoint_dir=ckpt,
                )
            self.refresh_walls.append(dt)
            for _ in range(self.reads_per_round):
                self.read_tier(job)
        return job

    def read_tier(self, job: RollupJob) -> None:
        convs = self.pick_convs(len(self.read_ms))
        with self.tracer.span("checkpoint.read_tier"):
            t0 = time.perf_counter()
            job.read_tier("1m").filter(F.col("conv_id").isin(convs)).collect()
            self.read_ms.append(1e3 * (time.perf_counter() - t0))
        self.ops += 1

    def setup(self) -> None:
        path = self.generate()
        self.src_path = path
        self.schema = self.spark.read.parquet(path).schema
        t0 = time.perf_counter()
        self.files = self.stage(path, os.path.join(self.work, "staged"),
                                self.rounds * self.files_per_round)
        self.prestate_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        warm_src = os.path.join(self.work, "warm_input")
        (self.spark.read.parquet(path)
         .filter(F.pmod(F.xxhash64("conv_id"), F.lit(4)) == 0)
         .write.parquet(warm_src))
        warm = self.stage(warm_src, os.path.join(self.work, "warm_staged"),
                          8)
        # two rounds, so that resuming the checkpoint is warm as well
        self.ingest_rounds("warm", warm, 2)
        self.warmup_s = time.perf_counter() - t0
        self.ops = 0
        self.write_s = 0.0
        self.read_ms = []
        self.refresh_walls = []

    def one_pass(self) -> None:
        t0 = time.time()
        job = self.ingest_rounds(f"p{self.passes}", self.files, self.rounds)
        self.turns_done += self.turns
        self.points_done += self.rolled_points(job, t0)
        self.account_store(job.work_dir)
        self.last_job = job
        self.passes += 1

    def check_all(self) -> None:
        src = self.spark.read.parquet(self.src_path)
        self.expect_equal("tier 1m", self.last_job.read_tier("1m"),
                          rollup_transcripts(src, "1m"))
        self.run_checks()


WORKLOADS = {w.name: w for w in (Backfill, StreamIngest)}
