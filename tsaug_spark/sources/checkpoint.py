"""Resumable rollup jobs: per-partition checkpoints with lineage + metrics.

Work is split into ``n_partitions`` deterministic conversation buckets
(``pmod(xxhash64(conv_id), P)``) so a partition is a self-contained unit:
every bucket of a conversation lands in exactly one partition, and a
partition can be rolled up, compressed, committed, and checkpointed
independently.  The checkpoint manifest carries per-partition **lineage**
(source snapshot id, partition id, rollup watermark) and **metrics**
(points_rolled, bytes_raw, bytes_compressed) per the north rule.

Resume = anti-join of the partition list against the manifest: partitions
with a committed manifest row for (tier, source snapshot) are skipped, so
a killed job continues where it stopped and the final table equals the
single-shot run (tests/test_checkpoint.py proves this).

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
    def completed_partitions(self, tier: str) -> set[int]:
        if not self.manifest.exists():
            return set()
        rows = (
            self.manifest.read(self.spark)
            .filter(
                (F.col("tier") == tier)
                & (F.col("source_snapshot") == self.source_snapshot)
            )
            .select("partition_id")
            .distinct()
            .collect()
        )
        return {r[0] for r in rows}

    def metrics(self, tier: Optional[str] = None) -> DataFrame:
        df = self.manifest.read(self.spark)
        return df.filter(F.col("tier") == tier) if tier else df

    # --------------------------------------------------------------- run
    def run(
        self,
        transcripts: DataFrame,
        tier: str = "1m",
        partitions: Optional[Sequence[int]] = None,
        resume: bool = True,
    ) -> int:
        """Roll up pending partitions; returns how many were processed.

        Each partition commit is: append tier rows + compressed chunk rows,
        then append the manifest row.  The manifest row is written last, so
        a crash between the two leaves a re-doable (not lost) partition;
        tier reads dedupe on (conv_id, bucket_ts) latest-commit-wins via
        the snapshot parent chain.
        """
        todo = list(partitions if partitions is not None else range(self.n_partitions))
        if resume:
            done = self.completed_partitions(tier)
            todo = [p for p in todo if p not in done]

        part_col = F.pmod(F.xxhash64("conv_id"), F.lit(self.n_partitions))
        for p in todo:
            src = transcripts.filter(part_col == p)
            rolled = rollup_transcripts(src, tier).cache()
            chunks = compress_tier(
                rolled, METRIC_COLS, window_s=_chunk_window(tier)
            ).cache()
            stats = chunks.agg(
                F.coalesce(F.sum("n_points"), F.lit(0)).alias("points"),
                F.coalesce(F.sum("bytes_raw"), F.lit(0)).alias("raw"),
                F.coalesce(F.sum("bytes_compressed"), F.lit(0)).alias("comp"),
                F.max(F.lit(None).cast("timestamp")).alias("_"),
            ).collect()[0]
            lo, wm = rolled.agg(
                F.min("bucket_ts"), F.max("bucket_ts")
            ).collect()[0]

            # time-clustered tier files (repartitionByRange on
            # bucket_ts): each covers a narrow time band, so the
            # since-bounded replaces of update/cascade_update keep the
            # earlier files by reference
            self.table(f"tier_{tier}").append(
                rolled.withColumn("partition_id", F.lit(p))
                .repartitionByRange(8, "bucket_ts")
            )
            self.table(f"tier_{tier}_chunks").append(
                chunks.withColumn("partition_id", F.lit(p))
            )
            self._append_manifest(
                [
                    (
                        tier,
                        p,
                        self.source_snapshot,
                        lo,
                        wm,
                        int(stats["points"]),
                        int(stats["raw"]),
                        int(stats["comp"]),
                        time.time(),
                    )
                ]
            )
            rolled.unpersist()
            chunks.unpersist()
        return len(todo)

    def read_tier(self, tier: str) -> DataFrame:
        return self.table(f"tier_{tier}").read(self.spark).drop("partition_id")

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
        from tsaug_spark.plans.rollup import TIERS

        names = ["_manifest"]
        for t in tiers or list(TIERS):
            names += [f"tier_{t}", f"tier_{t}_chunks"]
        out: dict[str, list[str]] = {}
        for n in names:
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

        Scale: the raw scan is pre-filtered by the GLOBAL minimum
        watermark — a literal, so it pushes into the parquet scan and
        prunes a ts-partitioned table to the recent tail — then
        refined per partition with a broadcast join of the (tiny)
        watermark table.  The driver collects exactly one scalar."""
        if not self.manifest.exists():
            return rollup_transcripts(transcripts, tier)
        wm = self.watermarks(tier)
        stored = (
            self.table(f"tier_{tier}")
            .read(self.spark)
            .join(F.broadcast(wm), "partition_id", "left")
            .filter(F.col("bucket_ts") < F.col("watermark_ts"))
            .drop("partition_id", "watermark_ts")
        )
        min_wm, n_committed = wm.agg(
            F.min("watermark_ts"), F.count(F.lit(1))
        ).collect()[0]
        if min_wm is None:
            return rollup_transcripts(transcripts, tier)
        tail_src = transcripts
        if n_committed == self.n_partitions:
            # every partition has a watermark -> the global minimum is
            # a safe literal pre-filter (pushes into the scan); with
            # uncommitted partitions their full history must stay
            tail_src = tail_src.filter(F.col("ts") >= F.lit(min_wm))
        part_col = F.pmod(
            F.xxhash64("conv_id"), F.lit(self.n_partitions)
        )
        tail_src = (
            tail_src.withColumn("partition_id", part_col)
            .join(F.broadcast(wm), "partition_id", "left")
            .filter(
                F.col("watermark_ts").isNull()
                | (F.col("ts") >= F.col("watermark_ts"))
            )
            .drop("partition_id", "watermark_ts")
        )
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
        from tsaug_spark.plans.rollup import TIERS

        names = ["_manifest"]
        for t in tiers or list(TIERS):
            names += [f"tier_{t}", f"tier_{t}_chunks"]
        out: dict[str, dict] = {}
        for n in names:
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
        part_col = F.pmod(
            F.xxhash64("conv_id"), F.lit(self.n_partitions)
        ).cast("int")
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
        """Latest committed rollup watermark per partition."""
        return (
            self.manifest.read(self.spark)
            .filter(F.col("tier") == tier)
            .groupBy("partition_id")
            .agg(F.max("watermark_ts").alias("watermark_ts"))
        )

    def _watermark_map(self) -> dict:
        """{(tier, partition_id): max watermark_ts} across ALL tiers,
        loaded from the manifest ONCE per job object and maintained
        incrementally by :meth:`_append_manifest` — so an
        update() -> cascade_update() chain pays a single manifest read
        instead of one per tier.  A second live job object over the
        same work_dir sees its own snapshot (same caveat as any
        driver-side plan cache); a fresh process reloads."""
        cache = self.__dict__.get("_wm_map")
        if cache is None:
            cache = {}
            if self.manifest.exists():
                for r in (
                    self.manifest.read(self.spark)
                    .groupBy("tier", "partition_id")
                    .agg(F.max("watermark_ts").alias("wm"))
                    .collect()
                ):
                    cache[(r["tier"], r["partition_id"])] = r["wm"]
            self.__dict__["_wm_map"] = cache
        return cache

    def _tier_watermarks(self, tier: str) -> dict:
        """{partition_id: watermark_ts} for one tier, via the cache."""
        return {
            p: wm
            for (t, p), wm in self._watermark_map().items()
            if t == tier
        }

    def _append_manifest(self, rows: list) -> None:
        """Append manifest rows AND keep the watermark cache in sync —
        every commit site routes through here so the cache can never
        miss a watermark this job itself advanced.  The rows go to the
        table as a pyarrow.Table: the snapshot table writes them on the
        driver, with no Spark job."""
        self.manifest.append(_manifest_table(rows))
        cache = self.__dict__.get("_wm_map")
        if cache is not None:
            for r in rows:
                key, wm = (r[0], r[1]), r[4]
                old = cache.get(key)
                if key not in cache or (
                    wm is not None and (old is None or wm > old)
                ):
                    cache[key] = wm

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
        from tsaug_spark.plans.rollup import TIERS

        # a NULL watermark = a committed-but-empty partition: route it
        # through the missing-partition path (run() then skips it via
        # completed_partitions), matching the pre-cache behavior
        cutoffs = {
            p: wm
            for p, wm in self._tier_watermarks(tier).items()
            if wm is not None
        }
        if not cutoffs:
            return self.run(transcripts, tier)
        snapshot = new_snapshot or self.source_snapshot

        part_col = F.pmod(
            F.xxhash64("conv_id"), F.lit(self.n_partitions)
        ).cast("int")
        # floor the cutoff to the tier bucket grid: a grace that is not
        # a multiple of the bucket width would otherwise KEEP the old
        # full-bucket row (bucket_ts < cut_ts) while the re-roll emits
        # a partial aggregate for the SAME bucket from raw rows >=
        # cut_ts — two conflicting rows per (conv, bucket).  Cutoffs
        # are computed DRIVER-SIDE from the cached watermarks so the
        # global minimum is a LITERAL the source scan can prune on.
        width = TIERS[tier][1]
        g = _grace_seconds(grace)
        cuts = {
            p: (_ts_epoch(wm) - g) // width * width
            for p, wm in cutoffs.items()
        }
        touched = 0
        # partitions with no committed watermark: full first-time run
        missing = [
            p for p in range(self.n_partitions) if p not in cuts
        ]
        if missing:
            touched += self.run(transcripts, tier, partitions=missing)

        # one incremental pass over every watermarked partition: a
        # literal min-cutoff prefilter reaches the parquet scan
        # (PushedFilters / partition pruning on a ts-partitioned
        # table), then each row keeps only if at/after ITS partition's
        # aligned (watermark - grace), a literal map lookup
        min_cut = min(cuts.values())
        src = transcripts.filter(
            F.col("ts") >= F.timestamp_seconds(F.lit(min_cut))
        ).filter(F.col("ts") >= _cut_lookup(cuts, part_col))
        rolled = (
            rollup_transcripts(src, tier)
            .withColumn("partition_id", part_col)
            .cache()
        )
        # ONE collect for bounds + counts (was two jobs)
        stats_rows = (
            rolled.groupBy("partition_id")
            .agg(
                F.min("bucket_ts").alias("lo"),
                F.max("bucket_ts").alias("hi"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        bounds = {r["partition_id"]: (r["lo"], r["hi"]) for r in stats_rows}
        counts = {r["partition_id"]: r["n"] for r in stats_rows}
        if not bounds:
            rolled.unpersist()
            return touched

        # single commit: replace each re-rolled partition's tail with
        # its fresh rows (partitions with no new rows keep theirs)
        self._replace_tails(
            f"tier_{tier}", rolled, {p: cuts[p] for p in bounds}
        )
        # keep the compressed store consistent with the re-rolled tier
        # rows (decompress(chunks) == tier must survive late data);
        # the returned stats avoid a second Gorilla encode — manifest
        # metrics for a refresh are: points/raw = the re-rolled rows,
        # comp = the affected conversations' stored chunk bytes
        chunk_stats = self._rebuild_chunks(
            tier,
            rolled.select("conv_id").distinct(),
            pids=sorted(bounds),
            since_ts=_epoch_ts(min_cut),
        )
        row_bytes = 8 * (1 + len(METRIC_COLS))
        now = time.time()
        self._append_manifest(
            [
                (
                    tier,
                    p,
                    snapshot,
                    bounds[p][0],
                    bounds[p][1],
                    int(counts.get(p, 0)),
                    int(counts.get(p, 0)) * row_bytes,
                    int(chunk_stats.get(p, {"comp": 0})["comp"]),
                    now,
                )
                for p in sorted(bounds)
            ]
        )
        rolled.unpersist()
        return touched + len(bounds)


def _expiry_tier(tier: str) -> str:
    """Manifest tier label for expiry commits (distinct from rollup
    rows so ``watermarks()`` never sees them)."""
    return f"{tier}#expired"


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
    from tsaug_spark.plans.rollup import TIER_ORDER

    dropped: dict[str, int] = {}
    for i, tier in enumerate(TIER_ORDER):
        dur = keep.get(tier)
        if dur is None:
            continue
        # the minimum over partitions of each one's max watermark, from
        # the driver-side cache (no manifest job)
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
        cutoff = F.lit(anchor) - F.expr(f"INTERVAL {dur}")
        # concrete expiry boundary for the manifest lineage row
        cutoff_val = (
            self.spark.range(1).select(cutoff.alias("c")).collect()[0]["c"]
        )

        tier_table = self.table(f"tier_{tier}")
        if not tier_table.exists():
            continue
        cur = tier_table.read(self.spark)
        n_old = cur.filter(F.col("bucket_ts") < cutoff).count()
        dropped[tier] = n_old
        if n_old == 0:
            continue
        # materialize the affected conv_id set BEFORE overwriting the
        # tier: with a lazily-resolving backend (Iceberg) an unforced
        # plan over `cur` would re-read the already-overwritten table
        # and evaluate empty, leaving stale chunk rows alive.  The
        # distinct conv_id set is small (one row per expiring
        # conversation), so a durable scratch commit is cheap.
        scratch = self.table(f"_scratch_expiry_{tier}")
        scratch.overwrite(
            cur.filter(F.col("bucket_ts") < cutoff)
            .select("conv_id")
            .distinct()
        )
        tier_table.overwrite(cur.filter(F.col("bucket_ts") >= cutoff))

        # chunk rows carry no bucket_ts; re-derive from their
        # conversations' surviving tier rows via the partition-scoped
        # rebuild (drops chunks of fully-expired conversations,
        # rebuilds the rest, touches only their partitions)
        self._rebuild_chunks(tier, scratch.read(self.spark))

        self._append_manifest(
            [
                (
                    _expiry_tier(tier),
                    -1,
                    self.source_snapshot,
                    anchor,       # range_start_ts: the anchor used
                    cutoff_val,   # watermark_ts: the expiry boundary
                    -n_old,
                    0,
                    0,
                    time.time(),
                )
            ]
        )
    return dropped


RollupJob.enforce_retention = enforce_retention


def cascade_tier(
    self,
    fine: str,
    coarse: str,
    resume: bool = True,
    partitions: "Optional[Sequence[int]]" = None,
) -> int:
    """Continuous-aggregate maintenance of ``coarse`` FROM ``fine``,
    with the same per-partition checkpoint/lineage/metrics contract as
    ``run`` — every tier in the cascade is resumable and manifest-
    tracked, not just the first.  Reads only the fine tier (never the
    raw table), so the cascade cost is proportional to tier size.

    Re-running under a NEW source snapshot (the late-data workflow)
    REPLACES each partition's coarse rows rather than appending —
    otherwise every re-run would stack duplicate buckets into the
    coarse tier.  On Iceberg this is a condition overwrite; the
    parquet-snapshot table keeps other partitions' files by reference.
    """
    from tsaug_spark.plans.rollup import reaggregate

    fine_df = self.table(f"tier_{fine}").read(self.spark)
    todo = list(
        partitions if partitions is not None else range(self.n_partitions)
    )
    if resume:
        done = self.completed_partitions(coarse)
        todo = [p for p in todo if p not in done]

    for p in todo:
        src = fine_df.filter(F.col("partition_id") == p).drop(
            "partition_id"
        )
        rolled = reaggregate(src, fine, coarse).cache()
        chunks = compress_tier(
            rolled, METRIC_COLS, window_s=_chunk_window(coarse)
        ).cache()
        stats = chunks.agg(
            F.coalesce(F.sum("n_points"), F.lit(0)).alias("points"),
            F.coalesce(F.sum("bytes_raw"), F.lit(0)).alias("raw"),
            F.coalesce(F.sum("bytes_compressed"), F.lit(0)).alias("comp"),
        ).collect()[0]
        lo, wm = rolled.agg(
            F.min("bucket_ts"), F.max("bucket_ts")
        ).collect()[0]
        self._replace_partition(
            f"tier_{coarse}", p, rolled.withColumn("partition_id", F.lit(p))
        )
        self._replace_partition(
            f"tier_{coarse}_chunks",
            p,
            chunks.withColumn("partition_id", F.lit(p)),
        )
        self._append_manifest(
            [
                (
                    coarse,
                    p,
                    self.source_snapshot,
                    lo,
                    wm,
                    int(stats["points"]),
                    int(stats["raw"]),
                    int(stats["comp"]),
                    time.time(),
                )
            ]
        )
        rolled.unpersist()
        chunks.unpersist()
    return len(todo)


RollupJob.cascade_tier = cascade_tier


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
    from tsaug_spark.plans.rollup import TIERS, reaggregate

    cutoffs = {
        p: wm
        for p, wm in self._tier_watermarks(coarse).items()
        if wm is not None
    }
    if not cutoffs:
        return self.cascade_tier(fine, coarse)
    snapshot = new_snapshot or self.source_snapshot
    width = TIERS[coarse][1]

    touched = 0
    missing = [
        p for p in range(self.n_partitions) if p not in cutoffs
    ]
    if missing:
        touched += self.cascade_tier(
            fine, coarse, resume=False, partitions=missing
        )

    part_col = F.pmod(
        F.xxhash64("conv_id"), F.lit(self.n_partitions)
    ).cast("int")
    # driver-side aligned cutoffs (cached watermarks, zero manifest
    # jobs) — the global minimum is a LITERAL so the fine-tier scan
    # prunes files/row-groups on bucket_ts instead of reading it all
    g = _grace_seconds(grace)
    cuts = {
        p: (_ts_epoch(wm) - g) // width * width
        for p, wm in cutoffs.items()
    }
    min_cut = min(cuts.values())

    fine_df = self.table(f"tier_{fine}").read(self.spark)
    src = (
        fine_df.filter(
            F.col("bucket_ts") >= F.timestamp_seconds(F.lit(min_cut))
        )
        .filter(
            F.col("bucket_ts") >= _cut_lookup(cuts, F.col("partition_id"))
        )
        .drop("partition_id")
    )
    rolled = (
        reaggregate(src, fine, coarse)
        .withColumn("partition_id", part_col)
        .cache()
    )

    # single tail-replace commit, FIRST action on `rolled`
    # (materializes the cache inside the write — no separate pre-write
    # stats job): every watermarked partition is synced to the fine
    # tier's current tail — a partition whose re-roll came back EMPTY
    # gets its stale tail cleared too, exactly what a full
    # re-aggregation would produce.  The replace set is driver-known
    # (the cutoff map), so no collect is needed to build it.
    self._replace_tails(f"tier_{coarse}", rolled, cuts)
    # bounds + counts from the already-materialized cache (cheap)
    stats_rows = (
        rolled.groupBy("partition_id")
        .agg(
            F.min("bucket_ts").alias("lo"),
            F.max("bucket_ts").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    bounds = {r["partition_id"]: (r["lo"], r["hi"]) for r in stats_rows}
    counts = {r["partition_id"]: r["n"] for r in stats_rows}
    if not bounds:
        rolled.unpersist()
        return touched
    # chunk rebuild returns the stored-chunk stats, so no second
    # Gorilla encode runs just for manifest metrics (points/raw = the
    # re-aggregated rows; comp = affected conversations' chunk bytes)
    chunk_stats = self._rebuild_chunks(
        coarse,
        rolled.select("conv_id").distinct(),
        pids=sorted(bounds),
        since_ts=_epoch_ts(min_cut),
    )
    row_bytes = 8 * (1 + len(METRIC_COLS))
    now = time.time()
    self._append_manifest(
        [
            (
                coarse,
                p,
                snapshot,
                bounds[p][0],
                bounds[p][1],
                int(counts.get(p, 0)),
                int(counts.get(p, 0)) * row_bytes,
                int(chunk_stats.get(p, {"comp": 0})["comp"]),
                now,
            )
            for p in sorted(bounds)
        ]
    )
    rolled.unpersist()
    return touched + len(bounds)


RollupJob.cascade_update = cascade_update


def op_downsample_tier(
    self,
    fine: str,
    out_name: str,
    op,
    value_cols: "Sequence[str]" = METRIC_COLS,
    min_len: int = 1,
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
    sub-block series — parity-preserved here), e.g. ``min_len=size``
    for Pool; excluded conversations simply have no rows in the
    operator tier, the same contract as a HAVING clause.
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
    fine_df = self.table(f"tier_{fine}").read(self.spark)
    todo = list(
        partitions if partitions is not None else range(self.n_partitions)
    )
    if resume:
        done = self.completed_partitions(out_name)
        todo = [p for p in todo if p not in done]

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
        self._replace_partition(
            f"tier_{out_name}",
            p,
            out.withColumn("partition_id", F.lit(p)),
        )
        self._append_manifest(
            [
                (
                    out_name,
                    p,
                    self.source_snapshot,
                    lo,
                    wm,
                    int(n_rows * len(value_cols)),
                    0,
                    0,
                    time.time(),
                )
            ]
        )
        series.unpersist()
        out.unpersist()
    return len(todo)


RollupJob.op_downsample_tier = op_downsample_tier
