"""Crash consistency of the per-partition tier builds.

A build commits each partition as tier rows, then chunk rows, then its
manifest row.  A crash at any of those points must resume to the
tables of a single-shot build, and so must a re-run under a new source
snapshot or with ``resume=False``: every build replaces the partitions
it builds, so none is ever held twice.  Both table backends.
"""

from __future__ import annotations

import pandas as pd
import pytest

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
