"""Resumable rollup jobs: per-partition checkpoints with lineage + metrics.

Work is split into ``n_partitions`` deterministic conversation buckets
(``pmod(xxhash64(conv_id), P)``, ``RollupJob._partition_col``) so a
partition is a self-contained unit: every bucket of a conversation
lands in exactly one partition, and a partition can be rolled up,
compressed, committed, and checkpointed independently.  The checkpoint
manifest carries per-partition **lineage** (source snapshot id,
partition id, rollup watermark) and **metrics** (points_rolled,
bytes_raw, bytes_compressed) per the north rule.

Every tier build (``run``, ``cascade_tier``, ``op_downsample_tier``)
REPLACES each partition it builds: tier rows, then chunk rows, then the
manifest row, which lands last.  Every lineage question (which
partitions are done, each partition's watermark, whether a stream batch
is recorded) is answered on the driver from the job's lineage list: the
(tier, partition_id, source_snapshot, watermark_ts) of every manifest
row, read once and extended by every commit.  Resume skips partitions
with a lineage row for (tier, source snapshot), and a partition a crash
left without one is rebuilt over whatever it committed, so a killed job
continues where it stopped and the final table equals the single-shot
run (tests/test_checkpoint.py proves this).

Late data: each partition records ``watermark_ts`` = max bucket rolled.
``update()`` re-rolls only buckets >= the stored watermark minus a grace
window, replacing those rows — the batch-incremental form of a streaming
watermark.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from tsaug_spark.lineage import truncate_lineage

from tsaug_spark.codec.chunks import compress_tier
from tsaug_spark.plans.rollup import (
    METRIC_COLS,
    TIER_ORDER,
    TIERS,
    reaggregate,
    rollup_transcripts,
)

from .tables import ParquetSnapshotTable

MANIFEST_SCHEMA = StructType([
    StructField("tier", StringType()),
    StructField("partition_id", IntegerType()),
    StructField("source_snapshot", StringType()),
    StructField("range_start_ts", TimestampType()),
    StructField("watermark_ts", TimestampType()),
    StructField("points_rolled", LongType()),
    StructField("bytes_raw", LongType()),
    StructField("bytes_compressed", LongType()),
    StructField("committed_at", DoubleType()),
])


def _manifest_table(rows: list):
    """Manifest ``rows`` (tuples in ``MANIFEST_SCHEMA`` order) as a
    ``pyarrow.Table`` holding exactly the values
    ``createDataFrame(rows, MANIFEST_SCHEMA)`` would: each row goes
    through ``MANIFEST_SCHEMA.toInternal`` (timestamps via
    ``TimestampType.toInternal``)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(MANIFEST_SCHEMA)
    internal = [MANIFEST_SCHEMA.toInternal(r) for r in rows]
    return pa.Table.from_arrays(
        [
            pa.array([r[i] for r in internal], f.type)
            for i, f in enumerate(schema)
        ],
        schema=schema,
    )


def _cut_lookup(cuts: "dict[int, int]", key) -> Column:
    """``cuts[key]`` (epoch seconds) as a timestamp: a literal map
    lookup, NULL for a key not in ``cuts`` (a comparison with it drops
    the row, as an inner join with a cutoff frame would)."""
    return F.create_map(*[
        x
        for p, c in sorted(cuts.items())
        for x in (F.lit(int(p)), F.timestamp_seconds(F.lit(int(c))))
    ])[key]


#: hypertable time-window per tier for the Gorilla chunk store —
#: sized to ~365-1440 points per chunk.  Windowed chunks split on
#: ABSOLUTE floor(epoch/window) boundaries, so an incremental refresh
#: can rebuild only the chunk windows its tail touches and keep every
#: earlier window byte-identical (``_rebuild_chunks(since_ts=...)``).
CHUNK_WINDOW_S = {
    "1m": 86400,        # 1440 points
    "1h": 2592000,      # 720 points
    "1d": 31536000,     # 365 points
}


def _chunk_window(tier: str) -> "Optional[int]":
    return CHUNK_WINDOW_S.get(tier)

_GRACE_UNITS = {
    "second": 1,
    "minute": 60,
    "hour": 3600,
    "day": 86400,
    "week": 604800,
}


def _grace_seconds(grace: str) -> int:
    """Parse grace strings of ``"<n> <unit>"`` pairs (``"2 hours"``,
    ``"1 hour 30 minutes"``) to seconds — the Python-side twin of
    ``INTERVAL <grace>`` so cutoffs can be computed as literals.
    Raises ValueError on anything else."""
    words = grace.split()
    pairs = list(zip(words[::2], words[1::2]))
    if not pairs or len(words) % 2 or not all(
        n.isdigit() and u.lower().rstrip("s") in _GRACE_UNITS
        for n, u in pairs
    ):
        raise ValueError(
            f"malformed grace {grace!r}: expected '<n> <unit>' pairs "
            f"with units {sorted(_GRACE_UNITS)}, e.g. '1 hour 30 minutes'"
        )
    return sum(int(n) * _GRACE_UNITS[u.lower().rstrip("s")] for n, u in pairs)


def _ts_epoch(ts) -> int:
    """Naive session-UTC datetime -> epoch seconds (never the OS tz)."""
    import calendar

    return calendar.timegm(ts.timetuple())


def _epoch_ts(epoch: int):
    import datetime as _dt

    return _dt.datetime.utcfromtimestamp(epoch)


def _expiry_tier(tier: str) -> str:
    """Manifest tier label for expiry commits (distinct from rollup
    rows so no watermark question of ``tier`` sees them)."""
    return f"{tier}#expired"


@dataclass
class RollupJob:
    """Checkpoint-resumable rollup of a transcript table into tier tables."""

    spark: SparkSession
    work_dir: str
    n_partitions: int = 8
    source_snapshot: str = "unversioned"
    # backend: any class exposing the TableLike contract (read/append/
    # overwrite/overwrite_partitions/snapshot_id/exists) constructed
    # from a path-like identifier — ParquetSnapshotTable in-sandbox,
    # IcebergTable on a cluster (tests/test_checkpoint.py parametrizes
    # the contract over both semantics).  ``append`` must take a
    # pyarrow.Table as well as a DataFrame: manifest commits pass one.
    table_cls: type = ParquetSnapshotTable
    _tables: dict = field(default_factory=dict)
    _lineage_rows: "Optional[list]" = field(
        default=None, init=False, repr=False
    )

    def table(self, name: str):
        if name not in self._tables:
            self._tables[name] = self.table_cls(
                f"{self.work_dir}/{name}"
            )
        return self._tables[name]

    @property
    def manifest(self) -> ParquetSnapshotTable:
        return self.table("_manifest")

    # ------------------------------------------------------------ status
    def _lineage(self) -> list:
        """(tier, partition_id, source_snapshot, watermark_ts) of every
        manifest row: one collect the first time a lineage question is
        asked (empty when no manifest exists yet), then extended by
        :meth:`_append_manifest` after each commit.  A job object sees
        its own commits plus what the manifest held when it first read
        it; a second live job over the same work_dir is not seen until
        a fresh job object reads the manifest again.  A stale "pending"
        answer costs an idempotent rebuild, never a wrong table, since
        every build replaces its partitions."""
        if self._lineage_rows is None:
            self._lineage_rows = [] if not self.manifest.exists() else [
                tuple(r) for r in self.manifest.read(self.spark).select(
                    "tier", "partition_id", "source_snapshot", "watermark_ts"
                ).collect()
            ]
        return self._lineage_rows

    def completed_partitions(self, tier: str) -> set[int]:
        """Partitions with a manifest row for (``tier``, source
        snapshot)."""
        return {
            p
            for t, p, snap, _ in self._lineage()
            if t == tier and snap == self.source_snapshot
        }

    def snapshot_recorded(self, tier: str, snapshot: str) -> bool:
        """Whether a manifest row of ``tier`` carries the source
        snapshot label ``snapshot`` (the stream sink's at-least-once
        lineage dedup)."""
        return any(
            t == tier and snap == snapshot
            for t, _, snap, _ in self._lineage()
        )

    def metrics(self, tier: Optional[str] = None) -> DataFrame:
        df = self.manifest.read(self.spark)
        return df.filter(F.col("tier") == tier) if tier else df

    def _partition_col(self) -> Column:
        """Each row's conversation-bucket partition:
        ``pmod(xxhash64(conv_id), P)`` as an int."""
        return F.pmod(
            F.xxhash64("conv_id"), F.lit(self.n_partitions)
        ).cast("int")

    def _manifest_row(
        self, tier, p, lo, wm, points, raw=0, comp=0, snapshot=None
    ) -> tuple:
        """One manifest row, in ``MANIFEST_SCHEMA`` order."""
        return (
            tier,
            p,
            snapshot or self.source_snapshot,
            lo,
            wm,
            int(points),
            int(raw),
            int(comp),
            time.time(),
        )

    # ------------------------------------------------------------ builds
    def _pending(
        self, tier: str, partitions: "Optional[Sequence[int]]", resume: bool
    ) -> list:
        """``partitions`` (default: all), less those the manifest already
        records for (``tier``, source snapshot) when resuming."""
        todo = list(
            partitions if partitions is not None else range(self.n_partitions)
        )
        if resume:
            done = self.completed_partitions(tier)
            todo = [p for p in todo if p not in done]
        return todo

    def _commit_partition(
        self, tier: str, p: int, row: tuple, rows: DataFrame, chunks=None
    ) -> None:
        """Commit partition ``p`` of ``tier``: replace its tier rows,
        then its chunk rows (if any), then append its manifest ``row``.
        The manifest row lands last, so a crash before it leaves ``p``
        pending, and the rebuild replaces what the crashed one
        committed."""
        self._replace_partition(f"tier_{tier}", p, rows)
        if chunks is not None:
            self._replace_partition(f"tier_{tier}_chunks", p, chunks)
        self._append_manifest([row])

    def _build_partitions(
        self, tier: str, todo: list, roll, ranged: bool = False
    ) -> int:
        """Build each partition in ``todo`` of ``tier``: ``roll(p)``
        makes its rolled rows, which are chunk-encoded, measured and
        committed.  ``ranged`` writes the tier rows as time-clustered
        files (``repartitionByRange`` on bucket_ts): each covers a
        narrow time band, so the since-bounded replaces of
        update/cascade_update keep the earlier files by reference."""
        for p in todo:
            rolled = roll(p).cache()
            chunks = compress_tier(
                rolled, METRIC_COLS, window_s=_chunk_window(tier)
            ).cache()
            # the chunks cover every rolled row, and their zone maps
            # bound its (grid-aligned) bucket_ts: one aggregate gives
            # the metrics and the lineage range
            stats = chunks.agg(
                F.coalesce(F.sum("n_points"), F.lit(0)).alias("points"),
                F.coalesce(F.sum("bytes_raw"), F.lit(0)).alias("raw"),
                F.coalesce(F.sum("bytes_compressed"), F.lit(0)).alias("comp"),
                F.min("ts_min").alias("lo"),
                F.max("ts_max").alias("wm"),
            ).collect()[0]
            rows = rolled.withColumn("partition_id", F.lit(p))
            if ranged:
                rows = rows.repartitionByRange(8, "bucket_ts")
            self._commit_partition(
                tier,
                p,
                self._manifest_row(
                    tier, p, stats["lo"], stats["wm"],
                    stats["points"], stats["raw"], stats["comp"],
                ),
                rows,
                chunks.withColumn("partition_id", F.lit(p)),
            )
            rolled.unpersist()
            chunks.unpersist()
        return len(todo)

    def run(
        self,
        transcripts: DataFrame,
        tier: str = "1m",
        partitions: Optional[Sequence[int]] = None,
        resume: bool = True,
    ) -> int:
        """Roll up pending partitions; returns how many were processed.

        Each partition commit replaces the partition's tier rows, then
        its compressed chunk rows, then appends the manifest row.  The
        manifest row is written last, so a crash before it leaves a
        re-doable (not lost) partition.  A resumed run, a re-run under
        a new ``source_snapshot`` and ``resume=False`` all REPLACE what
        an earlier run committed for a partition, so the tier never
        holds a partition twice and reads need no dedupe.
        """
        part = self._partition_col()
        return self._build_partitions(
            tier,
            self._pending(tier, partitions, resume),
            lambda p: rollup_transcripts(transcripts.filter(part == p), tier),
            ranged=True,
        )

    def cascade_tier(
        self,
        fine: str,
        coarse: str,
        resume: bool = True,
        partitions: "Optional[Sequence[int]]" = None,
    ) -> int:
        """Continuous-aggregate maintenance of ``coarse`` FROM ``fine``,
        with the same per-partition checkpoint/lineage/metrics contract
        as ``run`` — every tier in the cascade is resumable and
        manifest-tracked, not just the first.  Reads only the fine tier
        (never the raw table), so the cascade cost is proportional to
        tier size.

        Re-running under a NEW source snapshot (the late-data workflow)
        REPLACES each partition's coarse rows rather than appending —
        otherwise every re-run would stack duplicate buckets into the
        coarse tier.  On Iceberg this is a condition overwrite; the
        parquet-snapshot table keeps other partitions' files by
        reference.
        """
        fine_df = self.table(f"tier_{fine}").read(self.spark)
        return self._build_partitions(
            coarse,
            self._pending(coarse, partitions, resume),
            lambda p: reaggregate(
                fine_df.filter(F.col("partition_id") == p).drop(
                    "partition_id"
                ),
                fine,
                coarse,
            ),
        )

    def op_downsample_tier(
        self,
        fine: str,
        out_name: str,
        op,
        value_cols: "Sequence[str]" = METRIC_COLS,
        min_len: "Optional[int]" = None,
        resume: bool = True,
        partitions: "Optional[Sequence[int]]" = None,
    ) -> int:
        """Operator-downsampled tier: run a tsaug series operator (Pool /
        Resize / Convolve / Quantize — the reference's downsampler set) as
        the fine→coarse transform over each conversation's tier series,
        under the SAME per-partition checkpoint / lineage / metrics
        contract as ``cascade_tier``.

        This is the north-star wiring: the continuous-aggregate cascade's
        downsampler is a pandas-on-Arrow reimplementation of the reference
        operator, not just an algebraic re-aggregate — e.g. ``Pool('ave',
        4)`` over the 1h tier produces a mean-pooled 4h tier, and
        ``Convolve`` a smoothed tier.  Each conversation's series is
        indexed in ``bucket_ts`` order and fed to the distributed kernel
        (``plans/pack.py::apply_operator``, subseed mode — zero driver
        state); the output tier is keyed (conv_id, bucket_idx) in operator
        index space, with the manifest row carrying the SOURCE time range
        [lo, watermark] and points-rolled metrics for lineage.  Re-running
        under a new source snapshot replaces each partition (same
        late-data semantics as ``cascade_tier``).  Chunk compression is
        not applied to operator tiers (operator output is not
        timestamp-gridded; the algebraic tiers remain the compressed
        store).

        ``min_len`` excludes conversations with fewer fine buckets than
        the operator can consume (the reference's own Pool/Resize raise on
        sub-block series — parity-preserved here); it defaults to the
        op's ``min_length`` (Pool: its largest block size, 1 otherwise).
        Excluded conversations simply have no rows in the operator tier,
        the same contract as a HAVING clause.
        """
        from tsaug_spark.plans.pack import apply_operator

        if getattr(op, "repeats", 1) != 1:
            raise ValueError(
                "op_downsample_tier writes (conv_id, bucket_idx)-keyed "
                "tier rows; repeats > 1 would collapse the rep_idx axis "
                "into duplicate keys — run augmentation via apply_pipe "
                "instead"
            )
        value_cols = list(value_cols)
        if min_len is None:
            min_len = op.min_length
        fine_df = self.table(f"tier_{fine}").read(self.spark)
        todo = self._pending(out_name, partitions, resume)

        w = Window.partitionBy("conv_id").orderBy("bucket_ts")
        for p in todo:
            src = fine_df.filter(F.col("partition_id") == p).drop(
                "partition_id"
            )
            cw = Window.partitionBy("conv_id")
            series = (
                src.select(
                    "conv_id",
                    (F.row_number().over(w) - 1).alias("bucket_idx"),
                    "bucket_ts",
                    F.count(F.lit(1)).over(cw).alias("_T"),
                    *[F.col(c).cast("double").alias(c) for c in value_cols],
                )
                .filter(F.col("_T") >= min_len)
                .drop("_T")
                .cache()
            )
            out = apply_operator(
                series.drop("bucket_ts"), op, value_cols, mode="subseed"
            ).drop("rep_idx").cache()
            n_rows = out.count()
            lo, wm = src.agg(
                F.min("bucket_ts"), F.max("bucket_ts")
            ).collect()[0]
            self._commit_partition(
                out_name,
                p,
                self._manifest_row(
                    out_name, p, lo, wm, n_rows * len(value_cols)
                ),
                out.withColumn("partition_id", F.lit(p)),
            )
            series.unpersist()
            out.unpersist()
        return len(todo)

    def read_tier(self, tier: str) -> DataFrame:
        return self.table(f"tier_{tier}").read(self.spark).drop("partition_id")

    def _table_names(self, tiers: "list[str] | None") -> "list[str]":
        """The manifest, then each tier's table and chunk table
        (default: every tier)."""
        return ["_manifest"] + [
            f"tier_{t}{s}" for t in tiers or TIERS for s in ("", "_chunks")
        ]

    def expire_table_snapshots(
        self, keep_last: int = 3, tiers: "list[str] | None" = None
    ) -> "dict[str, list[str]]":
        """Garbage-collect old TABLE snapshots (time-travel history)
        across the job's tier, chunk, and manifest tables — the
        operational companion to ``enforce_retention``, which expires
        ROWS inside the current snapshot.  Every commit keeps the full
        previous table contents readable for time travel; without GC a
        daily-overwritten tier doubles its storage every run.  The
        current snapshot is always retained.  Backends without snapshot
        GC (Iceberg handles it via its own expire_snapshots procedure)
        are skipped."""
        out: dict[str, list[str]] = {}
        for n in self._table_names(tiers):
            tbl = self.table(n)
            if tbl.exists() and hasattr(tbl, "expire_snapshots"):
                expired = tbl.expire_snapshots(keep_last=keep_last)
                if expired:
                    out[n] = expired
        return out

    def read_tier_realtime(
        self, tier: str, transcripts: DataFrame
    ) -> DataFrame:
        """Real-time continuous aggregate (TimescaleDB-style): the
        committed tier rows for buckets strictly BELOW each
        partition's rollup watermark, unioned with a fresh rollup of
        the raw transcript tail at/after it — an always-current view
        between maintenance runs that never re-reads rolled history.

        The watermark bucket itself is recomputed from raw (it may
        still be filling — the same bucket ``update()`` re-rolls), so
        for every turn the job has seen the view equals a from-scratch
        rollup; turns later than the update contract's grace window
        are dropped by design, exactly as in ``update()``.

        Scale: the watermarks come from the job's lineage list, so the
        view runs no manifest job.  Each row is cut at its partition's
        watermark by a literal map lookup, and when every partition has
        one, the raw scan is pre-filtered by their minimum, a literal
        that pushes into the parquet scan and prunes a ts-partitioned
        table to the recent tail.  A committed-empty partition (NULL
        watermark) counts as having none: its full history comes from
        raw."""
        cuts = {
            p: _ts_epoch(wm)
            for p, wm in self._tier_watermarks(tier).items()
            if wm is not None
        }
        if not cuts:
            return rollup_transcripts(transcripts, tier)
        stored = (
            self.table(f"tier_{tier}")
            .read(self.spark)
            .filter(
                F.col("bucket_ts") < _cut_lookup(cuts, F.col("partition_id"))
            )
            .drop("partition_id")
        )
        tail_src = transcripts
        if all(p in cuts for p in range(self.n_partitions)):
            tail_src = tail_src.filter(
                F.col("ts") >= F.timestamp_seconds(F.lit(min(cuts.values())))
            )
        cut = _cut_lookup(cuts, self._partition_col())
        tail_src = tail_src.filter(cut.isNull() | (F.col("ts") >= cut))
        return stored.unionByName(rollup_transcripts(tail_src, tier))

    def query_series(
        self,
        ts_lo: int,
        ts_hi: int,
        max_points: int = 500,
        conv_ids: "Sequence[str] | None" = None,
        value_col: str = "turn_rate",
    ):
        """Dashboard read path: serve [``ts_lo``, ``ts_hi``] (epoch
        seconds) from the FINEST retention tier whose bucket count
        fits ``max_points``; if even the coarsest tier overflows the
        budget, M4-downsample it to pixel buckets (min/max/first/last
        — the lossless line-rendering reduction).

        The tier choice is pure driver arithmetic (span / bucket
        width); the read is the chunk-exclusion path — the zone-map
        range filter and any ``conv_ids`` filter apply to CHUNK rows
        before the Gorilla decode, so excluded chunks' binary columns
        are never decoded.  Returns ``(df, tier, m4_applied)``:
        tier rows (conv_id, bucket_ts, metrics...) normally, or
        (conv_id, px_ts, vmin, vmax, vfirst, vlast) under M4.
        """
        from tsaug_spark.codec.chunks import decompress_tier_range

        span = int(ts_hi) - int(ts_lo)
        if span <= 0:
            raise ValueError("ts_hi must be > ts_lo")
        chosen = TIER_ORDER[-1]
        for tier in TIER_ORDER:
            if span / TIERS[tier][1] <= max_points:
                chosen = tier
                break
        chunks = self.table(f"tier_{chosen}_chunks").read(self.spark)
        if conv_ids is not None:
            chunks = chunks.filter(
                F.col("conv_id").isin(list(conv_ids))
            )
        # include the partially-covered leading bucket: a 1d bucket
        # starting at midnight covers a ts_lo of 00:17, so the row
        # filter keys on bucket STARTS floored to the tier width
        lo_eff = (int(ts_lo) // TIERS[chosen][1]) * TIERS[chosen][1]
        rows = decompress_tier_range(
            chunks,
            METRIC_COLS,
            ts_lo=F.timestamp_seconds(F.lit(lo_eff)),
            ts_hi=F.timestamp_seconds(F.lit(int(ts_hi))),
        )
        if span / TIERS[chosen][1] <= max_points:
            return rows, chosen, False
        import math

        px = max(
            TIERS[chosen][1],
            int(math.ceil(span / max(1, max_points // 4))),
        )
        e = F.unix_timestamp("bucket_ts")
        m4 = (
            rows.withColumn(
                "px_ts",
                F.timestamp_seconds(
                    (F.floor(e / F.lit(px)) * F.lit(px)).cast("long")
                ),
            )
            .groupBy("conv_id", "px_ts")
            .agg(
                F.min(value_col).alias("vmin"),
                F.max(value_col).alias("vmax"),
                F.expr(
                    f"min_by({value_col}, bucket_ts)"
                ).alias("vfirst"),
                F.expr(
                    f"max_by({value_col}, bucket_ts)"
                ).alias("vlast"),
            )
        )
        return m4, chosen, True

    def compact_tables(
        self,
        target_file_mb: int = 128,
        tiers: "list[str] | None" = None,
    ) -> "dict[str, dict]":
        """Bin-pack small data files across the job's tier, chunk, and
        manifest tables (Iceberg ``rewrite_data_files`` / Delta
        ``OPTIMIZE`` analogue) — the file-level companion to
        ``expire_table_snapshots``: expiry GCs old SNAPSHOTS, this
        consolidates the CURRENT one, whose file count grows
        monotonically under streaming ingest and incremental updates.
        Pure rewrite: row content unchanged, previous snapshot stays
        time-travelable.  Only tables that actually compacted are
        reported."""
        out: dict[str, dict] = {}
        for n in self._table_names(tiers):
            tbl = self.table(n)
            if tbl.exists() and hasattr(tbl, "compact"):
                res = tbl.compact(self.spark, target_file_mb)
                if res.get("compacted"):
                    out[n] = res
        return out

    def _replace_partition(
        self, name: str, p: int, rows: DataFrame
    ) -> None:
        """Commit ``rows`` as the new content of partition ``p`` via the
        backend's dynamic-partition overwrite: Iceberg maps this to a
        condition overwrite (replacement rows materialized first so a
        self-derived plan can't re-read the overwritten table); the
        parquet-snapshot backend keeps every file of other partitions
        by reference and writes only ``rows``."""
        t = self.table(name)
        if not t.exists():
            t.append(rows)
            return
        # partitions=[p] explicitly: a replacement that produced ZERO
        # rows must still CLEAR the partition's stale rows (e.g. a
        # cascade re-run after the fine rows were retention-expired),
        # which a touched-set inferred from an empty df cannot express
        t.overwrite_partitions(rows, "partition_id", partitions=[p])

    def _replace_tails(
        self, name: str, rolled: DataFrame, cuts: "dict[int, int]"
    ) -> None:
        """Replace, in one commit, each partition ``p``'s rows with
        ``bucket_ts >= cuts[p]`` (epoch seconds) by its rows of
        ``rolled``.  The commit is bounded by the earliest cut: the
        backend replaces only rows at/after it, so each partition's rows
        between it and the partition's own cut (a literal map lookup of
        ``cuts``) are kept and ride along, and every earlier data file
        stays as it is."""
        pids = sorted(cuts)
        since = _epoch_ts(min(cuts.values()))
        t = self.table(name)
        kept = t.read(self.spark, partitions=pids, since=since).filter(
            F.col("bucket_ts") < _cut_lookup(cuts, F.col("partition_id"))
        )
        t.overwrite_partitions(
            kept.unionByName(rolled.select(*kept.columns)),
            "partition_id",
            partitions=pids,
            since=since,
        )

    def _rebuild_chunks(
        self,
        tier: str,
        affected: DataFrame,
        pids: "Optional[list]" = None,
        since_ts: "Optional[object]" = None,
    ) -> "dict[int, dict]":
        """Re-derive compressed chunk rows for ``affected``
        conversations from the (already committed) tier table, leaving
        every other chunk row untouched.  Conversations with no
        remaining tier rows lose their chunk rows.

        The commit is PARTITION-SCOPED: only the conversation-bucket
        partitions containing affected conversations are rewritten
        (their unaffected chunk rows carried over), via the backend's
        value-keyed dynamic overwrite — never the whole chunk table.
        ``affected`` and the rebuilt chunks are materialized first so
        the overwrite can never re-read post-overwrite state on a
        lazily-resolving backend.

        Returns per-partition stored-chunk stats for the affected
        conversations ({partition_id: {points, raw, comp}}), so callers
        don't run a second Gorilla encode just for manifest metrics.

        ``pids``: the affected partition ids, when the caller already
        knows them (update/cascade_update derive them from the rolled
        bounds) — skips a distinct+collect job, and scopes BOTH the
        tier re-read and the chunk carry-over to those partitions.

        ``since_ts``: incremental-refresh scope.  The chunk store is
        time-windowed (``CHUNK_WINDOW_S``) on absolute boundaries, so
        only the chunk windows at/after ``floor(since/window)`` can
        differ from a full re-encode — those are dropped and rebuilt
        from the tier rows of that range; every earlier window of the
        affected conversations is carried over BYTE-IDENTICAL.  Cost
        is proportional to the refreshed tail, not to the affected
        conversations' full history."""
        chunk_table = self.table(f"tier_{tier}_chunks")
        if not chunk_table.exists():
            return {}
        window_s = _chunk_window(tier)
        wfloor = None
        if since_ts is not None and window_s:
            wfloor = _epoch_ts(
                _ts_epoch(since_ts) // window_s * window_s
            )
        # lazy truncation: the plan is cut without an extra eager job —
        # materialization folds into the overwrite below (safe: the
        # snapshot backend resolves reads against the pre-commit
        # snapshot, and `affected` derives from a cached frame anyway)
        affected = affected.transform(
            lambda d: truncate_lineage(d, eager=False)
        )
        part_col = self._partition_col()
        if pids is None:
            pids = [
                r[0]
                for r in affected.select(
                    part_col.alias("partition_id")
                )
                .distinct()
                .collect()
            ]
        kept_tier = self.table(f"tier_{tier}").read(
            self.spark, partitions=[int(p) for p in pids]
        )
        src_rows = kept_tier.join(F.broadcast(affected), "conv_id").drop(
            "partition_id"
        )
        legacy = []
        if wfloor is not None:
            # a chunk crossing a window boundary predates the windowed
            # store (one chunk per conversation): its conversation falls
            # back to the full rebuild, or its history before the
            # window floor would be lost
            w = F.lit(window_s)
            legacy = [
                r[0]
                for r in chunk_table.read(self.spark, partitions=pids)
                .join(affected, "conv_id", "left_semi")
                .filter(
                    F.floor(F.unix_timestamp("ts_min") / w)
                    != F.floor(F.unix_timestamp("ts_max") / w)
                )
                .select("conv_id")
                .distinct()
                .collect()
            ]
            src_rows = src_rows.filter(
                (F.col("bucket_ts") >= F.lit(wfloor))
                | F.col("conv_id").isin(legacy)
            )
        rebuilt = (
            compress_tier(src_rows, METRIC_COLS, window_s=window_s)
            .withColumn("partition_id", part_col)
            # lazy here too: materializes inside the overwrite job, the
            # stats collect below then reads the checkpointed blocks
            .transform(lambda d: truncate_lineage(d, eager=False))
        )
        kept_chunks = chunk_table.read(self.spark, partitions=pids)
        if wfloor is not None:
            # carry over the affected conversations' pre-window chunks
            # byte-identical; drop only the windows being rebuilt
            drop = affected.withColumn("_aff", F.lit(1))
            kept_chunks = (
                kept_chunks.join(F.broadcast(drop), "conv_id", "left")
                .filter(
                    F.col("_aff").isNull()
                    | (
                        (F.col("ts_max") < F.lit(wfloor))
                        & ~F.col("conv_id").isin(legacy)
                    )
                )
                .drop("_aff")
            )
        else:
            kept_chunks = kept_chunks.join(
                affected, "conv_id", "left_anti"
            )
        chunk_table.overwrite_partitions(
            kept_chunks.unionByName(rebuilt, allowMissingColumns=True),
            "partition_id",
            partitions=pids,
        )
        return {
            r["partition_id"]: r
            for r in rebuilt.groupBy("partition_id")
            .agg(
                F.sum("n_points").alias("points"),
                F.sum("bytes_raw").alias("raw"),
                F.sum("bytes_compressed").alias("comp"),
            )
            .collect()
        }

    # ------------------------------------------------------ incremental
    def watermarks(self, tier: str) -> DataFrame:
        """Latest committed rollup watermark per partition, as a view of
        the manifest table (the job itself asks :meth:`_tier_watermarks`)."""
        return (
            self.manifest.read(self.spark)
            .filter(F.col("tier") == tier)
            .groupBy("partition_id")
            .agg(F.max("watermark_ts").alias("watermark_ts"))
        )

    def _tier_watermarks(self, tier: str) -> dict:
        """{partition_id: max watermark_ts} for one tier, from the
        lineage list: NULL (a committed-empty partition) only when every
        row of the partition has a NULL watermark, as ``watermarks``."""
        out: dict = {}
        for t, p, _, wm in self._lineage():
            if t == tier and (
                out.get(p) is None or (wm is not None and wm > out[p])
            ):
                out[p] = wm
        return out

    def _append_manifest(self, rows: list) -> None:
        """Append manifest rows and extend the lineage list with them:
        every commit site routes through here, so the list never misses
        a row this job committed.  The rows go to the table as a
        pyarrow.Table: the snapshot table writes them on the driver,
        with no Spark job."""
        self.manifest.append(_manifest_table(rows))
        if self._lineage_rows is not None:
            self._lineage_rows.extend((r[0], r[1], r[2], r[4]) for r in rows)

    def _refresh_tails(
        self,
        tier: str,
        grace: str,
        new_snapshot: Optional[str],
        source: DataFrame,
        time_col: str,
        roll,
        full_build,
        clear_all: bool,
    ) -> int:
        """The tail refresh behind ``update`` and ``cascade_update``.

        ``source`` holds the rows to re-roll (with a ``partition_id``
        column), ``time_col`` their time, and ``roll`` turns its tail
        into ``tier`` rows.  Partitions with no committed watermark go
        through ``full_build(partitions)``, which rebuilds them even when
        the manifest records them (committed-empty) for this snapshot.
        ``clear_all`` replaces the tail of every watermarked partition,
        so one whose re-roll came back empty loses its stale tail;
        otherwise only partitions the re-roll returned rows for are
        replaced.  Returns how many partitions were touched."""
        # a NULL watermark = a committed-but-empty partition: it goes
        # through full_build like a partition with no manifest row
        wms = {
            p: wm
            for p, wm in self._tier_watermarks(tier).items()
            if wm is not None
        }
        # floor the cutoff to the tier bucket grid: a grace that is not
        # a multiple of the bucket width would otherwise KEEP the old
        # full-bucket row (bucket_ts < cut) while the re-roll emits a
        # partial aggregate for the SAME bucket from rows >= cut — two
        # conflicting rows per (conv, bucket).  Cutoffs are computed
        # DRIVER-SIDE from the lineage list so the global minimum
        # is a LITERAL the source scan can prune on.
        width = TIERS[tier][1]
        g = _grace_seconds(grace)
        cuts = {
            p: (_ts_epoch(wm) - g) // width * width for p, wm in wms.items()
        }
        missing = [p for p in range(self.n_partitions) if p not in cuts]
        touched = full_build(missing) if missing else 0
        if not cuts:
            return touched

        # one pass over every watermarked partition: the literal
        # min-cutoff prefilter reaches the scan (PushedFilters,
        # partition or row-group pruning), then each row is kept only
        # if at/after ITS partition's cutoff, a literal map lookup
        min_cut = min(cuts.values())
        src = (
            source.filter(
                F.col(time_col) >= F.timestamp_seconds(F.lit(min_cut))
            )
            .filter(
                F.col(time_col)
                >= _cut_lookup(cuts, F.col("partition_id"))
            )
            .drop("partition_id")
        )
        rolled = (
            roll(src).withColumn("partition_id", self._partition_col())
            .cache()
        )
        stats = {
            r["partition_id"]: r
            for r in rolled.groupBy("partition_id")
            .agg(
                F.min("bucket_ts").alias("lo"),
                F.max("bucket_ts").alias("hi"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        }
        # single commit: each replaced partition's tail becomes its
        # fresh rows
        replace = cuts if clear_all else {p: cuts[p] for p in stats}
        if replace:
            self._replace_tails(f"tier_{tier}", rolled, replace)
        if stats:
            # keep the compressed store consistent with the re-rolled
            # tier rows (decompress(chunks) == tier must survive late
            # data); its returned stats avoid a second Gorilla encode:
            # points/raw = the re-rolled rows, comp = the affected
            # conversations' stored chunk bytes
            chunk_stats = self._rebuild_chunks(
                tier,
                rolled.select("conv_id").distinct(),
                pids=sorted(stats),
                since_ts=_epoch_ts(min_cut),
            )
            self._append_manifest([
                self._manifest_row(
                    tier, p, r["lo"], r["hi"],
                    r["n"], r["n"] * 8 * (1 + len(METRIC_COLS)),
                    chunk_stats.get(p, {"comp": 0})["comp"],
                    new_snapshot,
                )
                for p, r in sorted(stats.items())
            ])
        rolled.unpersist()
        return touched + len(stats)

    def update(
        self,
        transcripts: DataFrame,
        tier: str = "1m",
        grace: str = "1 hour",
        new_snapshot: Optional[str] = None,
    ) -> int:
        """Batch-incremental tier maintenance with late-data handling.

        Re-aggregates only the buckets at or after each partition's
        stored ``rollup watermark`` minus ``grace`` (the re-aggregation
        window for late turns), replaces those tier rows, and commits
        new manifest rows with the advanced watermark.  This is the
        batch twin of a streaming watermark: turns later than
        ``watermark - grace`` are folded in exactly; older late turns
        are dropped by design (widen ``grace`` to keep more).

        Cost model at scale: the filter ``ts >= cutoff`` prunes the raw
        scan to the recent partitions/files (partition pruning on a
        ts-partitioned table), so an update touches only the re-rollable
        tail, never the full history.  All watermarked partitions are
        re-rolled in ONE job and replaced in ONE table commit that
        writes only the re-rolled tail (the
        per-partition-loop formulation rewrote the tier table once per
        partition — O(P x table) write amplification); per-partition
        lineage + metrics rows still land in the manifest.  A crash
        before the manifest append re-rolls from the old watermarks —
        the replacement is idempotent.
        """
        return self._refresh_tails(
            tier,
            grace,
            new_snapshot,
            transcripts.withColumn("partition_id", self._partition_col()),
            "ts",
            lambda src: rollup_transcripts(src, tier),
            lambda ps: self.run(
                transcripts, tier, partitions=ps, resume=False
            ),
            clear_all=False,
        )

    def cascade_update(
        self,
        fine: str,
        coarse: str,
        grace: str = "1 hour",
        new_snapshot: "Optional[str]" = None,
    ) -> int:
        """Incremental continuous-aggregate refresh of ``coarse`` FROM
        ``fine`` — the tier-to-tier twin of ``update()`` (TimescaleDB's
        incremental continuous-aggregate refresh, not a full re-cascade).

        Per partition, only the coarse buckets at/after the committed
        coarse rollup watermark minus ``grace`` are re-aggregated from the
        fine tier; the cutoff is floored to the COARSE bucket grid so no
        partial bucket is ever rebuilt from a fine-row suffix.  Exactly
        those rows are replaced in one since-bounded commit
        (``_replace_tails``; untouched partitions and older buckets keep
        their rows), compressed chunk rows are re-derived for the affected
        conversations only, and manifest rows land with the advanced
        watermark + ``new_snapshot`` lineage.  Partitions with no committed
        coarse rows get a full ``cascade_tier`` pass.

        Cost at scale: reads the fine tier's re-rollable tail (bucket_ts
        predicate -> row-group pruning on the footer statistics) and
        writes only the coarse tier's tail — never the whole coarse table.
        """
        return self._refresh_tails(
            coarse,
            grace,
            new_snapshot,
            self.table(f"tier_{fine}").read(self.spark),
            "bucket_ts",
            lambda src: reaggregate(src, fine, coarse),
            lambda ps: self.cascade_tier(
                fine, coarse, resume=False, partitions=ps
            ),
            clear_all=True,
        )

    def enforce_retention(
        self, keep: "dict[str, Optional[str]]"
    ) -> "dict[str, int]":
        """Expire tier rows older than their retention window.

        ``keep[tier]`` is a Spark INTERVAL body (e.g. ``"2 days"``) or
        ``None`` = keep forever.  The cutoff for a tier anchors at the next
        coarser tier's minimum committed rollup watermark — rows are only
        expired once the cascade above them has absorbed them — falling
        back to the tier's own watermark for the coarsest tier.  Wall clock
        is never consulted: rerunning expiry against an unchanged manifest
        is a no-op, so the operation is idempotent and resumable like every
        other commit in this job.

        Scale note: on Iceberg this is ``DELETE WHERE bucket_ts < cutoff``
        — a metadata-only, partition-pruned commit.  The parquet-snapshot
        fallback rewrites the table filtered and commits atomically; chunk
        tables expire together with their tier.  Returns rows dropped per
        tier, and records each expiry in the manifest (tier label
        ``<tier>#expired``, ``range_start_ts`` = the anchor used,
        ``watermark_ts`` = the computed expiry cutoff,
        points_rolled = -dropped).
        """
        dropped: dict[str, int] = {}
        for i, tier in enumerate(TIER_ORDER):
            dur = keep.get(tier)
            if dur is None:
                continue
            # the minimum over partitions of each one's max watermark,
            # from the lineage list (no manifest job)
            anchor = None
            for t in TIER_ORDER[i + 1:] + [tier]:
                wms = [
                    wm for wm in self._tier_watermarks(t).values()
                    if wm is not None
                ]
                if wms:
                    anchor = min(wms)
                    break
            if anchor is None:
                continue  # tier never rolled up — nothing to expire
            tier_table = self.table(f"tier_{tier}")
            if not tier_table.exists():
                continue
            cutoff = F.lit(anchor) - F.expr(f"INTERVAL {dur}")
            cur = tier_table.read(self.spark)
            # one job: the expiring-row count and, for the manifest
            # lineage row, the concrete boundary (the cutoff is a
            # foldable literal, so it aggregates like a constant)
            n_old, cutoff_val = cur.agg(
                F.count_if(F.col("bucket_ts") < cutoff), F.max(cutoff)
            ).collect()[0]
            dropped[tier] = n_old
            if n_old == 0:
                continue
            # materialize the affected conv_id set BEFORE overwriting the
            # tier: with a lazily-resolving backend (Iceberg) an unforced
            # plan over `cur` would re-read the already-overwritten table
            # and evaluate empty, leaving stale chunk rows alive.  The
            # distinct conv_id set is small (one row per expiring
            # conversation); an eager truncation holds it, as
            # IcebergTable.overwrite does with its input.
            expiring = truncate_lineage(
                cur.filter(F.col("bucket_ts") < cutoff)
                .select("conv_id")
                .distinct()
            )
            tier_table.overwrite(cur.filter(F.col("bucket_ts") >= cutoff))

            # chunk rows carry no bucket_ts; re-derive from their
            # conversations' surviving tier rows via the partition-scoped
            # rebuild (drops chunks of fully-expired conversations,
            # rebuilds the rest, touches only their partitions)
            self._rebuild_chunks(tier, expiring)

            # range_start_ts = the anchor used, watermark_ts = the
            # expiry boundary
            self._append_manifest([
                self._manifest_row(
                    _expiry_tier(tier), -1, anchor, cutoff_val, -n_old
                )
            ])
        return dropped
