"""Crash consistency of the per-partition tier builds and of the tail
refreshes.

A build commits each partition as tier rows, then chunk rows, then its
manifest row.  A crash at any of those points must resume to the
tables of a single-shot build, and so must a re-run under a new source
snapshot or with ``resume=False``: every build replaces the partitions
it builds, so none is ever held twice.  A refresh (``update``,
``cascade_update``) commits the tier tails, then the rebuilt chunks,
then the manifest rows; re-running it after a crash at any of those
points must give the tables of a single-shot refresh.  Both table
backends.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tsaug_spark.sources.checkpoint import RollupJob
from tsaug_spark.sources.tables import ParquetSnapshotTable

P = 2
SORT = {"": ["conv_id", "bucket_ts"], "_chunks": ["conv_id", "ts_min"]}


class Crash(RuntimeError):
    pass


def _arm(job, name: str, nth: int, after: bool) -> None:
    """Make the ``nth`` commit to ``job``'s table ``name`` (counted from
    now) crash, before it writes or after it returns."""
    t = job.table(name)
    seen = [0]
    for m in ("append", "overwrite_partitions"):
        def hooked(*a, _orig=getattr(t, m), **k):
            seen[0] += 1
            if seen[0] == nth and not after:
                raise Crash(name)
            out = _orig(*a, **k)
            if seen[0] == nth and after:
                raise Crash(name)
            return out

        setattr(t, m, hooked)


def _tables(spark, job, tier: str) -> dict:
    return {
        sfx: job.table(f"tier_{tier}{sfx}")
        .read(spark)
        .toPandas()
        .sort_values(cols)
        .reset_index(drop=True)
        for sfx, cols in SORT.items()
    }


def _assert_same(got: dict, want: dict) -> None:
    for sfx in SORT:
        pd.testing.assert_frame_equal(
            got[sfx][list(want[sfx].columns)], want[sfx], check_dtype=False
        )


@pytest.fixture(scope="module")
def single_shot(spark, transcripts, tmp_path_factory):
    job = RollupJob(spark, str(tmp_path_factory.mktemp("solo")),
                    n_partitions=P, source_snapshot="snapA",
                    table_cls=ParquetSnapshotTable)
    assert job.run(transcripts, "1m") == P
    assert job.cascade_tier("1m", "1h") == P
    return {t: _tables(spark, job, t) for t in ("1m", "1h")}


# (table, nth commit since arming, crash after the commit returns)
CRASH_POINTS = {
    "after_tier_commit": ("{t}_chunks", 2, False),
    "after_chunk_commit": ("{t}_chunks", 2, True),
    "before_manifest_append": ("_manifest", 2, False),
}


@pytest.mark.parametrize("point", sorted(CRASH_POINTS))
@pytest.mark.parametrize("build", ["run", "cascade_tier"])
def test_crash_then_resume_equals_single_shot(
    spark, transcripts, tmp_path, table_cls, single_shot, build, point
):
    def job():
        return RollupJob(spark, str(tmp_path / "job"), n_partitions=P,
                         source_snapshot="snapA", table_cls=table_cls)

    def go(j):
        if build == "run":
            return j.run(transcripts, "1m")
        return j.cascade_tier("1m", "1h")

    tier = "1m" if build == "run" else "1h"
    crashed = job()
    if build == "cascade_tier":
        crashed.run(transcripts, "1m")
    name, nth, after = CRASH_POINTS[point]
    # partition 0 commits in full, partition 1 crashes at the point
    _arm(crashed, name.format(t=f"tier_{tier}"), nth, after)
    with pytest.raises(Crash):
        go(crashed)

    resumed = job()
    assert resumed.completed_partitions(tier) == {0}
    assert go(resumed) == 1
    assert go(resumed) == 0
    _assert_same(_tables(spark, resumed, tier), single_shot[tier])


def test_run_rerun_under_new_snapshot_replaces(
    spark, transcripts, tmp_path, table_cls, single_shot
):
    first = RollupJob(spark, str(tmp_path / "job"), n_partitions=P,
                      source_snapshot="snapA", table_cls=table_cls)
    assert first.run(transcripts, "1m") == P
    second = RollupJob(spark, str(tmp_path / "job"), n_partitions=P,
                       source_snapshot="snapB", table_cls=table_cls)
    assert second.run(transcripts, "1m") == P
    _assert_same(_tables(spark, second, "1m"), single_shot["1m"])


def test_run_without_resume_replaces(
    spark, transcripts, tmp_path, table_cls, single_shot
):
    job = RollupJob(spark, str(tmp_path / "job"), n_partitions=P,
                    source_snapshot="snapA", table_cls=table_cls)
    assert job.run(transcripts, "1m") == P
    assert job.run(transcripts, "1m", resume=False) == P
    _assert_same(_tables(spark, job, "1m"), single_shot["1m"])


def _early(transcripts):
    lo, hi = transcripts.agg(
        F.min(F.unix_timestamp("ts")), F.max(F.unix_timestamp("ts"))
    ).collect()[0]
    return transcripts.filter(
        F.col("ts") < F.timestamp_seconds(F.lit(int(lo + 0.7 * (hi - lo))))
    )


REFRESH = {
    "update": ("1m", lambda j, t: j.update(
        t, "1m", grace="2 hours", new_snapshot="snapB")),
    "cascade_update": ("1h", lambda j, t: j.cascade_update(
        "1m", "1h", grace="2 hours", new_snapshot="snapB")),
}


def _built(spark, transcripts, path, table_cls, upto) -> RollupJob:
    """A job over the early input's 1m and 1h tiers, refreshed with the
    late input by every step of ``REFRESH`` before ``upto`` (``None``:
    every step)."""
    job = RollupJob(spark, path, n_partitions=P, source_snapshot="snapA",
                    table_cls=table_cls)
    job.run(_early(transcripts), "1m")
    job.cascade_tier("1m", "1h")
    for step, (_, refresh) in REFRESH.items():
        if step == upto:
            break
        refresh(job, transcripts)
    return job


@pytest.fixture(scope="module")
def single_shot_refresh(spark, transcripts, tmp_path_factory):
    job = _built(spark, transcripts, str(tmp_path_factory.mktemp("solo_r")),
                 ParquetSnapshotTable, upto=None)
    return {
        t: (_tables(spark, job, t), job._tier_watermarks(t))
        for t in ("1m", "1h")
    }


# (table, nth commit since arming, crash after the commit returns)
REFRESH_CRASH_POINTS = {
    "after_tail_replace": ("{t}", 1, True),
    "after_chunk_rebuild": ("{t}_chunks", 1, True),
    "before_manifest_append": ("_manifest", 1, False),
}


@pytest.mark.parametrize("point", sorted(REFRESH_CRASH_POINTS))
@pytest.mark.parametrize("step", sorted(REFRESH))
def test_refresh_crash_then_rerun_equals_single_shot(
    spark, transcripts, tmp_path, table_cls, single_shot_refresh, step,
    point
):
    tier, refresh = REFRESH[step]
    path = str(tmp_path / "job")
    crashed = _built(spark, transcripts, path, table_cls, upto=step)
    name, nth, after = REFRESH_CRASH_POINTS[point]
    _arm(crashed, name.format(t=f"tier_{tier}"), nth, after)
    with pytest.raises(Crash):
        refresh(crashed, transcripts)

    rerun = RollupJob(spark, path, n_partitions=P, source_snapshot="snapA",
                      table_cls=table_cls)
    assert refresh(rerun, transcripts) > 0
    want, want_wms = single_shot_refresh[tier]
    _assert_same(_tables(spark, rerun, tier), want)
    fresh = RollupJob(spark, path, n_partitions=P, table_cls=table_cls)
    assert fresh._tier_watermarks(tier) == want_wms
