"""Real-time continuous aggregate: committed tier rows + a fresh
rollup of the raw tail past each partition's watermark must equal a
from-scratch rollup of everything the job could know about."""

from __future__ import annotations

from pyspark.sql import functions as F

from tsaug_spark.plans.rollup import rollup_transcripts
from tsaug_spark.sources.checkpoint import RollupJob


def _as_map(df):
    return {
        (r.conv_id, r.bucket_ts): (r.turn_rate, r.tool_usage, r.text_len)
        for r in df.collect()
    }


def test_realtime_equals_fresh_rollup_after_new_data(
    spark, transcripts, tmp_path
):
    """Roll up only the older half, then ask the real-time view with
    the FULL table: it must equal a from-scratch full rollup, reading
    rolled history from the tier and only the tail from raw."""
    cut = transcripts.agg(
        F.expr("percentile_approx(CAST(ts AS DOUBLE), 0.5)")
    ).collect()[0][0]
    old = transcripts.filter(F.col("ts").cast("double") <= cut)
    job = RollupJob(
        spark, str(tmp_path / "rt"), n_partitions=4,
        source_snapshot="s1",
    )
    job.run(old, "1m")
    got = _as_map(job.read_tier_realtime("1m", transcripts))
    want = _as_map(rollup_transcripts(transcripts, "1m"))
    assert got == want and got


def test_realtime_equals_stored_when_caught_up(
    spark, transcripts, tmp_path
):
    """With no data past the watermark the view still recomputes the
    watermark bucket from raw and matches the stored tier exactly."""
    job = RollupJob(
        spark, str(tmp_path / "rt"), n_partitions=4,
        source_snapshot="s1",
    )
    job.run(transcripts, "1m")
    got = _as_map(job.read_tier_realtime("1m", transcripts))
    want = _as_map(rollup_transcripts(transcripts, "1m"))
    assert got == want and got


def test_realtime_with_uncommitted_partitions(
    spark, transcripts, tmp_path
):
    """Partitions never rolled (no watermark) and partitions committed
    empty (NULL watermark) must come entirely from raw — the global
    pre-filter may not prune their history."""
    never_rolled = RollupJob(
        spark, str(tmp_path / "rt"), n_partitions=4,
        source_snapshot="s1",
    )
    never_rolled.run(transcripts, "1m", partitions=[0, 2])
    committed_empty = RollupJob(
        spark, str(tmp_path / "rt_empty"), n_partitions=4,
        source_snapshot="s1",
    )
    part = committed_empty._partition_col()
    used = transcripts.select(part.alias("p")).first()["p"]
    committed_empty.run(transcripts.filter(part == used), "1m")
    want = _as_map(rollup_transcripts(transcripts, "1m"))
    for job in (never_rolled, committed_empty):
        got = _as_map(job.read_tier_realtime("1m", transcripts))
        assert got == want and got, job.work_dir


def test_realtime_before_any_commit_is_fresh_rollup(
    spark, transcripts, tmp_path
):
    job = RollupJob(
        spark, str(tmp_path / "rt"), n_partitions=4,
        source_snapshot="s1",
    )
    job.run(transcripts.limit(0), "1m", partitions=[])
    got = _as_map(job.read_tier_realtime("1m", transcripts))
    want = _as_map(rollup_transcripts(transcripts, "1m"))
    assert got == want and got
