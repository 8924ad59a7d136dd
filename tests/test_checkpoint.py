"""Chunk compression round-trip through Spark + kill/resume checkpointing.

The RollupJob semantics tests are parametrized over BOTH table
backends: the in-sandbox ``ParquetSnapshotTable`` (fresh data dir per
commit) and ``InPlaceLazyTable`` (tests/iceberg_double.py), which
reproduces Iceberg's storage semantics — one mutable location, lazy
scan resolution, dynamic partition overwrite.  Passing under both
proves the checkpoint/cascade/retention/update logic doesn't depend on
the parquet backend's accidental copy-on-write safety (VERDICT r2 #8,
ADVICE r2 stale-lazy-read finding).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.iceberg_double import InPlaceLazyTable
from tsaug_spark.codec.chunks import compress_tier, decompress_tier
from tsaug_spark.plans.rollup import METRIC_COLS, rollup_transcripts
from tsaug_spark.sources.checkpoint import RollupJob
from tsaug_spark.sources.tables import ParquetSnapshotTable


def test_lazy_double_reproduces_stale_read_hazard(spark, tmp_path):
    """The double must be a real trap, not a tautology: a lazy plan
    derived from read() dies when storage is replaced underneath it —
    the exact hazard IcebergTable's materialize-first overwrite (and
    enforce_retention's eager truncation of the expiring set) exists to
    avoid."""
    t = InPlaceLazyTable(str(tmp_path / "hz"))
    t.overwrite(spark.range(10).withColumn("v", F.col("id") * 2))
    stale_plan = t.read(spark).filter(F.col("id") >= 5)
    t._replace_dir(
        spark.range(3)
        .withColumn("v", F.col("id") * 2)
        .localCheckpoint(eager=True)
    )
    with pytest.raises(Exception):
        stale_plan.count()
    # the disciplined path (materialize-first overwrite) stays correct
    # even when the replacement is derived from the table itself
    t.overwrite(t.read(spark).filter(F.col("id") >= 1))
    assert t.read(spark).count() == 2


def test_chunk_roundtrip_through_spark(spark, transcripts):
    tier = rollup_transcripts(transcripts, "1m")
    chunks = compress_tier(tier, METRIC_COLS).cache()
    # compression wins on the rollup layout
    stats = chunks.agg(
        F.sum("bytes_raw").alias("raw"), F.sum("bytes_compressed").alias("c")
    ).collect()[0]
    assert stats["c"] < stats["raw"]

    back = decompress_tier(chunks, METRIC_COLS)
    a = (
        tier.orderBy("conv_id", "bucket_ts")
        .toPandas()
        .reset_index(drop=True)
    )
    b = (
        back.orderBy("conv_id", "bucket_ts")
        .toPandas()
        .reset_index(drop=True)
    )
    assert len(a) == len(b)
    assert (a["conv_id"] == b["conv_id"]).all()
    assert (a["bucket_ts"] == b["bucket_ts"]).all()
    for c in METRIC_COLS:
        assert np.array_equal(
            a[c].to_numpy(dtype=np.float64), b[c].to_numpy(dtype=np.float64)
        ), c


def test_snapshot_table_atomic_overwrite(spark, tmp_path):
    t = ParquetSnapshotTable(str(tmp_path / "tbl"))
    assert not t.exists()
    s1 = t.overwrite(spark.range(5))
    assert t.read(spark).count() == 5
    s2 = t.append(spark.range(3))
    assert t.read(spark).count() == 8
    assert s1 != s2 and t.snapshot_id() == s2


def test_kill_resume_equals_single_shot(spark, transcripts, tmp_path, table_cls):
    # single-shot run
    solo = RollupJob(spark, str(tmp_path / "solo"), n_partitions=4,
                     source_snapshot="snapA",
                     table_cls=table_cls)
    assert solo.run(transcripts, "1m") == 4

    # killed run: only 2 partitions complete, then a fresh job resumes
    broken = RollupJob(spark, str(tmp_path / "resumed"), n_partitions=4,
                       source_snapshot="snapA",
                       table_cls=table_cls)
    assert broken.run(transcripts, "1m", partitions=[0, 1]) == 2
    resumed = RollupJob(spark, str(tmp_path / "resumed"), n_partitions=4,
                        source_snapshot="snapA",
                        table_cls=table_cls)
    assert resumed.completed_partitions("1m") == {0, 1}
    assert resumed.run(transcripts, "1m") == 2  # only the missing two
    assert resumed.run(transcripts, "1m") == 0  # idempotent

    a = (
        solo.read_tier("1m").orderBy("conv_id", "bucket_ts").toPandas()
    )
    b = (
        resumed.read_tier("1m").orderBy("conv_id", "bucket_ts").toPandas()
    )
    pd.testing.assert_frame_equal(
        a.reset_index(drop=True), b.reset_index(drop=True)
    )


def test_update_builds_new_conversation_in_committed_empty_partition(
    spark, transcripts, tmp_path
):
    """A partition the build committed empty (NULL watermark) has no
    tail to refresh: ``update`` must build it in full when a new
    conversation lands in it, though the manifest records it for the
    job's snapshot, and so equal a from-scratch rollup of the new
    data."""
    job = RollupJob(spark, str(tmp_path / "ce"), n_partitions=4,
                    source_snapshot="snapE")
    part = job._partition_col()
    used = transcripts.select(part.alias("p")).first()["p"]
    new_conv = (
        transcripts.filter(part != used).select("conv_id").first()[0]
    )
    old = transcripts.filter(part == used)
    new = old.unionByName(transcripts.filter(F.col("conv_id") == new_conv))
    assert job.run(old, "1m") == 4
    # the three committed-empty partitions are built in full, the used
    # one has its tail refreshed
    assert job.update(new, "1m", grace="1 hour") == 4

    got = job.read_tier("1m").orderBy("conv_id", "bucket_ts").toPandas()
    want = (
        rollup_transcripts(new, "1m")
        .orderBy("conv_id", "bucket_ts")
        .toPandas()
    )
    assert (got["conv_id"] == new_conv).any()
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want.reset_index(drop=True),
        check_dtype=False,
    )


def test_manifest_lineage_and_metrics(spark, transcripts, tmp_path, table_cls):
    job = RollupJob(spark, str(tmp_path / "m"), n_partitions=2,
                    source_snapshot="snap42",
                    table_cls=table_cls)
    job.run(transcripts, "1m")
    m = job.metrics("1m").toPandas()
    assert set(m["partition_id"]) == {0, 1}
    assert (m["source_snapshot"] == "snap42").all()
    assert m["points_rolled"].sum() == rollup_transcripts(
        transcripts, "1m"
    ).count()
    assert (m["bytes_compressed"] < m["bytes_raw"]).all()
    assert m["watermark_ts"].notna().all()
    # lineage carries the partition's time range: [range_start, watermark]
    assert m["range_start_ts"].notna().all()
    assert (m["range_start_ts"] <= m["watermark_ts"]).all()


def test_watermark_update_handles_late_data(spark, transcripts, tmp_path, table_cls):
    from pyspark.sql import functions as F

    # split input by time: everything before the cutoff arrives first,
    # the tail (plus rows overlapping the watermark window) arrives late
    lo, hi = transcripts.agg(
        F.min(F.unix_timestamp("ts")), F.max(F.unix_timestamp("ts"))
    ).collect()[0]
    cutoff = F.timestamp_seconds(F.lit(int(lo + 0.7 * (hi - lo))))
    early = transcripts.filter(F.col("ts") < cutoff)
    job = RollupJob(spark, str(tmp_path / "wm"), n_partitions=2,
                    source_snapshot="snap1",
                    table_cls=table_cls)
    job.run(early, "1m")

    # incremental update with the full table (late + new rows)
    touched = job.update(transcripts, "1m", grace="2 hours",
                         new_snapshot="snap2")
    assert touched > 0

    got = (
        job.read_tier("1m")
        .orderBy("conv_id", "bucket_ts")
        .toPandas()
        .reset_index(drop=True)
    )
    want = (
        rollup_transcripts(transcripts, "1m")
        .orderBy("conv_id", "bucket_ts")
        .toPandas()
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    # watermark advanced and lineage records both snapshots
    m = job.metrics("1m").toPandas()
    assert set(m["source_snapshot"]) == {"snap1", "snap2"}


def test_retention_expiry(spark, transcripts, tmp_path, table_cls):
    job = RollupJob(spark, str(tmp_path / "ret"), n_partitions=2,
                    source_snapshot="snapR",
                    table_cls=table_cls)
    job.run(transcripts, "1m")
    job.run(transcripts, "1h")

    before = job.read_tier("1m").cache()
    n_before = before.count()
    wm_1h = (
        job.watermarks("1h").agg(F.min("watermark_ts")).collect()[0][0]
    )
    cutoff = pd.Timestamp(wm_1h) - pd.Timedelta(hours=2)

    dropped = job.enforce_retention({"1m": "2 hours", "1h": None})
    after = job.read_tier("1m").cache()

    # exactly the pre-cutoff rows are gone; the rest are untouched
    expect_keep = before.filter(F.col("bucket_ts") >= F.lit(cutoff))
    assert dropped["1m"] == n_before - expect_keep.count()
    assert dropped["1m"] > 0
    a = expect_keep.orderBy("conv_id", "bucket_ts").toPandas()
    b = after.orderBy("conv_id", "bucket_ts").toPandas()
    pd.testing.assert_frame_equal(
        a.reset_index(drop=True), b.reset_index(drop=True)
    )
    # 1h tier untouched (keep forever)
    assert "1h" not in dropped or dropped.get("1h", 0) == 0

    # chunk table stays decode-consistent with the surviving tier rows
    chunks = job.table("tier_1m_chunks").read(spark)
    back = decompress_tier(chunks.drop("partition_id"), METRIC_COLS)
    assert back.count() == after.count()

    # idempotent: unchanged manifest -> second pass drops nothing
    again = job.enforce_retention({"1m": "2 hours", "1h": None})
    assert again["1m"] == 0
    # expiry is recorded in the manifest with a distinct tier label
    exp_rows = (
        job.manifest.read(spark)
        .filter(F.col("tier") == "1m#expired")
        .collect()
    )
    assert len(exp_rows) == 1 and exp_rows[0]["points_rolled"] < 0
    # lineage records the actual boundary: watermark_ts = cutoff,
    # range_start_ts = the anchor it was derived from
    assert pd.Timestamp(exp_rows[0]["watermark_ts"]) == cutoff
    assert pd.Timestamp(exp_rows[0]["range_start_ts"]) == pd.Timestamp(
        wm_1h
    )
    # the expiring conv_id set is held in memory, never committed
    assert not [
        n for n in os.listdir(tmp_path / "ret")
        if n.startswith("_scratch_expiry")
    ]


def test_cascade_tier_checkpointed(spark, transcripts, tmp_path, table_cls):
    from tsaug_spark.plans.rollup import reaggregate

    job = RollupJob(spark, str(tmp_path / "casc"), n_partitions=3,
                    source_snapshot="snapC",
                    table_cls=table_cls)
    job.run(transcripts, "1m")
    # partial cascade, then resume — must equal the direct reaggregation
    assert job.cascade_tier("1m", "1h") == 3
    assert job.cascade_tier("1m", "1h") == 0  # resumable / idempotent

    direct = (
        reaggregate(job.read_tier("1m"), "1m", "1h")
        .orderBy("conv_id", "bucket_ts")
        .toPandas()
        .reset_index(drop=True)
    )
    got = (
        job.read_tier("1h")
        .orderBy("conv_id", "bucket_ts")
        .toPandas()
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(direct, got, check_dtype=False)
    # coarser tier carries manifest lineage + metrics like the fine one
    m = job.metrics("1h").toPandas()
    assert set(m["partition_id"]) == {0, 1, 2}
    assert (m["points_rolled"] > 0).any()
    assert (m["bytes_compressed"] > 0).all()


def test_cascade_rerun_new_snapshot_replaces_not_appends(
    spark, transcripts, tmp_path, table_cls
):
    """The documented late-data workflow: re-running the cascade under a
    new source snapshot must REPLACE each partition's coarse rows, not
    stack duplicates into the tier."""
    job = RollupJob(spark, str(tmp_path / "casc2"), n_partitions=3,
                    source_snapshot="snapA",
                    table_cls=table_cls)
    job.run(transcripts, "1m")
    assert job.cascade_tier("1m", "1h") == 3
    before = (
        job.read_tier("1h").orderBy("conv_id", "bucket_ts").toPandas()
    )

    # same fine tier, new snapshot id -> every partition redone
    job2 = RollupJob(spark, str(tmp_path / "casc2"), n_partitions=3,
                     source_snapshot="snapB",
                     table_cls=table_cls)
    assert job2.cascade_tier("1m", "1h") == 3
    after = (
        job2.read_tier("1h").orderBy("conv_id", "bucket_ts").toPandas()
    )
    pd.testing.assert_frame_equal(
        before.reset_index(drop=True),
        after.reset_index(drop=True),
        check_dtype=False,
    )
    # chunk table replaced too: exactly one chunk row per conversation
    chunks = job2.table("tier_1h_chunks").read(spark).toPandas()
    assert chunks["conv_id"].is_unique


def test_cascade_rerun_hits_overwrite_partitions_catalog_call(
    spark, transcripts, tmp_path
):
    """On the Iceberg-semantics backend the late-data cascade re-run
    must go through the ``overwritePartitions`` catalog call (the
    metadata-only dynamic partition overwrite), never a full-table
    ``replace`` — and snapshot ids must advance monotonically for
    lineage."""
    job = RollupJob(spark, str(tmp_path / "cat"), n_partitions=2,
                    source_snapshot="snapA", table_cls=InPlaceLazyTable)
    job.run(transcripts, "1m")
    job.cascade_tier("1m", "1h")
    job2 = RollupJob(spark, str(tmp_path / "cat"), n_partitions=2,
                     source_snapshot="snapB", table_cls=InPlaceLazyTable)
    assert job2.cascade_tier("1m", "1h") == 2
    log = job2.table("tier_1h").catalog_log
    ops = [e["op"] for e in log]
    assert ops.count("overwritePartitions") >= 2  # the snapB re-run
    assert "replace" not in ops
    sids = [e["snapshot_id"] for e in log]
    assert sids == sorted(sids) and len(set(sids)) == len(sids)


def test_manifest_append_tolerates_old_schema(spark, tmp_path):
    """A manifest written before a schema extension must keep accepting
    appends (missing columns backfill as NULL)."""
    from tsaug_spark.sources.tables import ParquetSnapshotTable

    t = ParquetSnapshotTable(str(tmp_path / "mani"))
    old = spark.createDataFrame(
        [("1m", 0, "snap0", 5.0)],
        "tier string, partition_id int, source_snapshot string, "
        "committed_at double",
    )
    t.append(old)
    new = spark.createDataFrame(
        [("1m", 1, "snap1", 6.0, 123456789)],
        "tier string, partition_id int, source_snapshot string, "
        "committed_at double, points_rolled long",
    )
    t.append(new)  # must not raise
    got = t.read(spark).toPandas()
    assert len(got) == 2
    assert got.loc[got["partition_id"] == 0, "points_rolled"].isna().all()


def test_time_windowed_chunks_and_range_read(spark, transcripts):
    """Hypertable-style time chunking + chunk-exclusion range read:
    hour-windowed chunks round-trip bit-exactly, the zone-map filter
    prunes chunk rows BEFORE decode, and the range read equals the
    full decode filtered row-for-row."""
    from tsaug_spark.codec.chunks import decompress_tier_range

    tier = rollup_transcripts(transcripts, "1m").cache()
    chunks = compress_tier(tier, METRIC_COLS, window_s=3600).cache()

    # windowed chunking splits conversations across days
    assert chunks.count() > chunks.select("conv_id").distinct().count()
    # zone maps are consistent and within one window each
    bad = chunks.filter(
        (F.col("ts_min") > F.col("ts_max"))
        | (
            F.floor(F.unix_timestamp("ts_min") / 3600)
            != F.floor(F.unix_timestamp("ts_max") / 3600)
        )
    ).count()
    assert bad == 0

    # full roundtrip still bit-exact under windowed chunking
    back = decompress_tier(chunks, METRIC_COLS)
    assert back.count() == tier.count()
    a = tier.orderBy("conv_id", "bucket_ts").toPandas()
    b = back.orderBy("conv_id", "bucket_ts").toPandas()
    for c in METRIC_COLS:
        assert np.array_equal(
            a[c].to_numpy(np.float64), b[c].to_numpy(np.float64)
        ), c

    # range read: middle slice
    lo, hi = tier.agg(F.min("bucket_ts"), F.max("bucket_ts")).collect()[0]
    r_lo = lo + (hi - lo) / 3
    r_hi = r_lo + (hi - lo) / 4
    got = (
        decompress_tier_range(chunks, METRIC_COLS, r_lo, r_hi)
        .orderBy("conv_id", "bucket_ts")
        .toPandas()
        .reset_index(drop=True)
    )
    want = (
        tier.filter(
            (F.col("bucket_ts") >= F.lit(r_lo))
            & (F.col("bucket_ts") <= F.lit(r_hi))
        )
        .orderBy("conv_id", "bucket_ts")
        .toPandas()
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    # the exclusion is real: the zone-map filter drops chunk rows
    surviving = chunks.filter(
        (F.col("ts_max") >= F.lit(r_lo)) & (F.col("ts_min") <= F.lit(r_hi))
    ).count()
    assert surviving < chunks.count()

    # value zone maps bound their chunk's decoded values
    one = chunks.select(
        "turn_rate_min", "turn_rate_max", "conv_id", "ts_min"
    ).first()
    seg = back.filter(
        (F.col("conv_id") == one["conv_id"])
    ).filter(
        F.col("bucket_ts") >= F.lit(one["ts_min"])
    )
    mn = seg.agg(F.min("turn_rate")).collect()[0][0]
    assert one["turn_rate_min"] <= mn
    tier.unpersist()
    chunks.unpersist()


def test_cascade_update_incremental_refresh(
    spark, transcripts, tmp_path, table_cls
):
    """Incremental continuous-aggregate refresh: after late fine-tier
    data lands via update(), cascade_update must converge the coarse
    tier to the direct reaggregation of the full fine tier while
    replacing only the watermark-grace tail, and BOTH tiers' compressed
    chunk stores must stay decode-consistent (the update path rebuilds
    affected conversations' chunks)."""
    from tsaug_spark.plans.rollup import reaggregate

    lo, hi = transcripts.agg(
        F.min(F.unix_timestamp("ts")), F.max(F.unix_timestamp("ts"))
    ).collect()[0]
    cutoff = F.timestamp_seconds(F.lit(int(lo + 0.7 * (hi - lo))))
    early = transcripts.filter(F.col("ts") < cutoff)
    job = RollupJob(spark, str(tmp_path / "cupd"), n_partitions=2,
                    source_snapshot="snap1", table_cls=table_cls)
    job.run(early, "1m")
    assert job.cascade_tier("1m", "1h") == 2
    before_rows = job.read_tier("1h").count()

    # late data: incremental fine update, then incremental cascade
    # (cascade grace >= fine grace so the coarse window covers every
    # re-rolled fine bucket)
    job.update(transcripts, "1m", grace="2 hours", new_snapshot="snap2")
    touched = job.cascade_update(
        "1m", "1h", grace="2 hours", new_snapshot="snap2"
    )
    assert touched > 0

    direct = (
        reaggregate(job.read_tier("1m"), "1m", "1h")
        .orderBy("conv_id", "bucket_ts")
        .toPandas()
        .reset_index(drop=True)
    )
    got = (
        job.read_tier("1h")
        .orderBy("conv_id", "bucket_ts")
        .toPandas()
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(direct, got, check_dtype=False)
    assert len(got) > before_rows  # the late tail actually landed

    # chunk stores stay decode-consistent for both tiers
    for tier in ("1m", "1h"):
        chunks = job.table(f"tier_{tier}_chunks").read(spark)
        back = (
            decompress_tier(chunks.drop("partition_id"), METRIC_COLS)
            .orderBy("conv_id", "bucket_ts")
            .toPandas()
            .reset_index(drop=True)
        )
        want = (
            job.read_tier(tier)
            .orderBy("conv_id", "bucket_ts")
            .toPandas()
            .reset_index(drop=True)
        )
        assert len(back) == len(want), tier
        for c in METRIC_COLS:
            assert np.array_equal(
                back[c].to_numpy(np.float64),
                want[c].to_numpy(np.float64),
            ), (tier, c)

    # lineage records the incremental snapshot on the coarse tier
    m = job.metrics("1h").toPandas()
    assert "snap2" in set(m["source_snapshot"])
    # idempotent-ish: a second cascade_update with no new fine data
    # still converges (replacement is stable)
    job.cascade_update("1m", "1h", grace="2 hours", new_snapshot="snap3")
    again = (
        job.read_tier("1h")
        .orderBy("conv_id", "bucket_ts")
        .toPandas()
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(direct, again, check_dtype=False)


def test_cascade_rerun_clears_partition_whose_fine_rows_vanished(
    spark, transcripts, tmp_path, table_cls
):
    """A cascade re-run whose re-aggregation produces ZERO rows for a
    partition (its fine rows were dropped, e.g. retention-expired) must
    CLEAR the partition's stale coarse rows — an inferred touched-set
    from an empty DataFrame cannot express that, so _replace_partition
    passes the partition id explicitly."""
    job = RollupJob(spark, str(tmp_path / "clr"), n_partitions=2,
                    source_snapshot="snapA", table_cls=table_cls)
    job.run(transcripts, "1m")
    assert job.cascade_tier("1m", "1h") == 2
    t1h = job.table("tier_1h")
    assert (
        t1h.read(spark).filter(F.col("partition_id") == 0).count() > 0
    )

    # partition 0's fine rows disappear entirely
    t1m = job.table("tier_1m")
    t1m.overwrite(
        t1m.read(spark).filter(F.col("partition_id") != 0)
    )

    job2 = RollupJob(spark, str(tmp_path / "clr"), n_partitions=2,
                     source_snapshot="snapB", table_cls=table_cls)
    assert job2.cascade_tier("1m", "1h") == 2
    assert (
        t1h.read(spark).filter(F.col("partition_id") == 0).count() == 0
    )
    # partition 1 is intact and equals its direct re-aggregation
    from tsaug_spark.plans.rollup import reaggregate

    direct = (
        reaggregate(
            t1m.read(spark).filter(F.col("partition_id") == 1).drop(
                "partition_id"
            ),
            "1m",
            "1h",
        )
        .count()
    )
    assert (
        t1h.read(spark).filter(F.col("partition_id") == 1).count()
        == direct
    )


def test_op_downsample_tier_pool_equals_local(
    spark, transcripts, tmp_path, table_cls
):
    """The operator-downsampled tier (Pool('ave', 4) over the 1h tier)
    is checkpointed/resumable like cascade_tier, carries manifest
    lineage, and equals running the reference-parity Pool locally on
    each conversation's collected series."""
    import numpy as np

    from tsaug_spark.operators import Pool
    from tsaug_spark.sources.checkpoint import METRIC_COLS

    job = RollupJob(spark, str(tmp_path / "opds"), n_partitions=2,
                    source_snapshot="snapOP", table_cls=table_cls)
    job.run(transcripts, "1h")
    assert job.op_downsample_tier(
        "1h", "4h_pool", Pool(size=4, seed=0), min_len=4
    ) == 2
    assert job.op_downsample_tier(
        "1h", "4h_pool", Pool(size=4, seed=0), min_len=4
    ) == 0  # resumable

    got = {}
    for r in job.read_tier("4h_pool").collect():
        got[(r.conv_id, r.bucket_idx)] = tuple(
            r[c] for c in METRIC_COLS
        )

    tier = job.read_tier("1h").orderBy("conv_id", "bucket_ts").toPandas()
    op = Pool(size=4, seed=0)
    n_out = 0
    n_short = 0
    for cid, g in tier.groupby("conv_id"):
        if len(g) < 4:  # min_len exclusion (reference Pool raises)
            n_short += 1
            assert not any(k[0] == cid for k in got)
            continue
        x = g[list(METRIC_COLS)].to_numpy(dtype=float)[None, :, :]
        out = op.augment(x)[0]
        for b in range(out.shape[0]):
            n_out += 1
            want = tuple(out[b])
            assert got[(cid, b)] == want, (cid, b)
    assert len(got) == n_out

    m = job.metrics("4h_pool").toPandas()
    assert set(m["partition_id"]) == {0, 1}
    assert (m["points_rolled"] > 0).all()
    assert m["source_snapshot"].eq("snapOP").all()


def test_op_downsample_tier_min_len_defaults_to_the_op(
    spark, transcripts, tmp_path
):
    """Without ``min_len`` the tier excludes the series the op cannot
    pool (Pool: shorter than its largest block), as ``min_len=4``."""
    from tsaug_spark.operators import Pool, Resize

    job = RollupJob(spark, str(tmp_path / "mlen"), n_partitions=1)
    job.run(transcripts, "1h")
    assert job.op_downsample_tier("1h", "pool_default", Pool("ave", 4)) == 1
    job.op_downsample_tier("1h", "pool_4", Pool("ave", 4), min_len=4)
    got, want = (
        job.read_tier(name).orderBy("conv_id", "bucket_idx").toPandas()
        for name in ("pool_default", "pool_4")
    )
    assert len(want) > 0
    pd.testing.assert_frame_equal(got, want)
    assert Pool("max", [2, 6]).min_length == 6
    assert Resize(size=12).min_length == 1


def test_op_downsample_tier_all_reference_downsamplers(
    spark, transcripts, tmp_path
):
    """The north-star downsampler set — Resize, Convolve, Quantize
    (Pool covered above) — each runs as the cascade downsampler and
    equals the local reference-parity operator per conversation."""
    import numpy as np

    from tsaug_spark.operators import Convolve, Quantize, Resize
    from tsaug_spark.sources.checkpoint import METRIC_COLS

    job = RollupJob(spark, str(tmp_path / "opds2"), n_partitions=2,
                    source_snapshot="snapOP2")
    job.run(transcripts, "1h")
    tier = job.read_tier("1h").orderBy("conv_id", "bucket_ts").toPandas()

    cases = [
        ("r12", Resize(size=12, seed=0), 2),
        ("hann5", Convolve(window="hann", size=5, seed=0), 1),
        ("q10", Quantize(n_levels=10, seed=0), 1),
    ]
    for name, op, min_len in cases:
        assert job.op_downsample_tier(
            "1h", name, op, min_len=min_len
        ) == 2
        got = {}
        for r in job.read_tier(name).collect():
            got[(r.conv_id, r.bucket_idx)] = tuple(
                r[c] for c in METRIC_COLS
            )
        n_out = 0
        for cid, g in tier.groupby("conv_id"):
            if len(g) < min_len:
                assert not any(k[0] == cid for k in got)
                continue
            x = g[list(METRIC_COLS)].to_numpy(dtype=float)[None, :, :]
            out = op.augment(x)[0]
            for b in range(out.shape[0]):
                n_out += 1
                assert got[(cid, b)] == tuple(out[b]), (name, cid, b)
        assert len(got) == n_out, name


def test_op_downsample_tier_rejects_repeats(spark, tmp_path):
    """Review fix: repeats > 1 would collapse rep_idx into duplicate
    (conv_id, bucket_idx) keys — refused loudly."""
    import pytest

    from tsaug_spark.operators import Pool

    job = RollupJob(spark, str(tmp_path / "rep"), n_partitions=1)
    with pytest.raises(ValueError, match="repeats"):
        job.op_downsample_tier("1h", "x", Pool(size=4, repeats=2))


@pytest.mark.parametrize(
    "grace, seconds",
    [
        ("90 minutes", 5400),
        ("1 hour 30 minutes", 5400),
        ("2 hours", 7200),
        ("1 day 1 second", 86401),
        ("1 Week", 604800),
    ],
)
def test_grace_seconds_parses_compound_strings(grace, seconds):
    from tsaug_spark.sources.checkpoint import _grace_seconds

    assert _grace_seconds(grace) == seconds


@pytest.mark.parametrize(
    "grace",
    ["", "hour", "1", "1 fortnight", "1.5 hours", "1 hour 30", "-1 hour",
     "one hour"],
)
def test_grace_seconds_rejects_malformed_strings(grace):
    from tsaug_spark.sources.checkpoint import _grace_seconds

    with pytest.raises(ValueError, match="malformed grace"):
        _grace_seconds(grace)


def test_update_rebuilds_legacy_unwindowed_chunk_store(spark, tmp_path):
    """A chunk store written before time windowing holds one chunk per
    conversation spanning several days.  An incremental update must
    fall back to the full rebuild for those conversations, or their
    chunk history before the window floor is lost."""
    from tsaug_spark.datagen import generate_transcripts

    src = generate_transcripts(
        spark, n_convs=6, avg_turns=40, hot_convs=0, mean_gap_s=7200,
        seed=7,
    ).cache()
    max_ts = src.agg(F.max(F.unix_timestamp("ts"))).collect()[0][0]
    base = src.filter(F.unix_timestamp("ts") < max_ts - 6 * 3600)
    job = RollupJob(spark, str(tmp_path / "legacy"), n_partitions=2,
                    source_snapshot="s1")
    job.run(base, "1m")
    # rewrite the chunk store the unwindowed way: one chunk per conv
    tier = job.table("tier_1m").read(spark).drop("partition_id")
    legacy = compress_tier(tier, METRIC_COLS).withColumn(
        "partition_id",
        F.pmod(F.xxhash64("conv_id"), F.lit(2)).cast("int"),
    )
    job.table("tier_1m_chunks").overwrite(legacy)
    day = F.floor(F.unix_timestamp("ts_min") / 86400) != F.floor(
        F.unix_timestamp("ts_max") / 86400
    )
    assert job.table("tier_1m_chunks").read(spark).filter(day).count() > 0

    job2 = RollupJob(spark, str(tmp_path / "legacy"), n_partitions=2,
                     source_snapshot="s2")
    assert job2.update(src, "1m", grace="1 hour", new_snapshot="s2") > 0
    cols = ["conv_id", "bucket_ts", *METRIC_COLS]
    got = (
        decompress_tier(job2.table("tier_1m_chunks").read(spark), METRIC_COLS)
        .select(*cols).orderBy("conv_id", "bucket_ts").toPandas()
    )
    want = (
        job2.read_tier("1m").select(*cols)
        .orderBy("conv_id", "bucket_ts").toPandas()
    )
    assert len(want) == rollup_transcripts(src, "1m").count()
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want.reset_index(drop=True),
        check_dtype=False,
    )
