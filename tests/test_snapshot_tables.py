"""The file-list snapshot contract of ParquetSnapshotTable: commits write
only their delta and keep untouched files by reference, reads scan the
listed files in one Spark job, snapshot expiry deletes only unlisted
files, a crash before the pointer flip is invisible, a crash after it
has committed, and a legacy single-directory snapshot keeps working."""

from __future__ import annotations

import json
import os
import shutil
import uuid

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tsaug_spark.sources import tables
from tsaug_spark.sources.tables import ParquetSnapshotTable


def _rows(spark, lo, hi, part, day=0):
    """Rows ``lo..hi-1`` of partition ``part``, one minute bucket each,
    starting ``day`` days after 2024-01-01."""
    return spark.range(lo, hi).select(
        F.col("id"),
        F.lit(part).cast("int").alias("partition_id"),
        F.timestamp_seconds(
            F.lit(1704067200 + day * 86400) + F.col("id") * 60
        ).alias("bucket_ts"),
    )


def _ids(df):
    return sorted(r.id for r in df.select("id").collect())


def _data_files_on_disk(t):
    out = set()
    for root, _dirs, names in os.walk(os.path.join(t.path, "data")):
        out |= {os.path.join(root, n) for n in names if n.endswith(".parquet")}
    return out


class _Aside:
    """Moves files out of the table (and back): a commit that opens
    one of them while they are away fails."""

    def __init__(self, files, where):
        self.moves = [
            (p, os.path.join(where, f"{i}.parquet")) for i, p in enumerate(files)
        ]
        os.makedirs(where)

    def __enter__(self):
        for src, dst in self.moves:
            shutil.move(src, dst)

    def __exit__(self, *exc):
        for src, dst in self.moves:
            shutil.move(dst, src)


def test_append_writes_only_the_delta_and_reads_no_old_file(spark, tmp_path):
    t = ParquetSnapshotTable(str(tmp_path / "t"))
    t.append(_rows(spark, 0, 200_000, 0).repartition(4))
    old = dict(t.data_files())
    with _Aside(old, str(tmp_path / "aside")):
        t.append(_rows(spark, 200_000, 201_000, 1).coalesce(1))
    now = dict(t.data_files())
    assert set(old) <= set(now)  # kept by reference
    new_bytes = sum(b for p, b in now.items() if p not in old)
    assert 0 < new_bytes < sum(old.values()) / 20
    assert _data_files_on_disk(t) == set(now)
    assert t.read(spark).count() == 201_000


def test_stream_merge_writes_only_the_delta_and_reads_no_old_file(
    spark, tmp_path
):
    from tsaug_spark.sources.checkpoint import RollupJob
    from tsaug_spark.streaming.stream_sink import merge_batch_into_tier

    job = RollupJob(spark, str(tmp_path / "job"), n_partitions=4)

    def batch(n, day):
        return spark.range(n).select(
            F.format_string("c-%d", F.col("id") % 50).alias("conv_id"),
            F.timestamp_seconds(
                F.lit(1704067200 + day * 86400) + (F.col("id") / 50).cast(
                    "long") * 60
            ).alias("bucket_ts"),
            F.lit(1).cast("long").alias("turn_rate"),
            F.lit(0).cast("long").alias("tool_usage"),
            F.col("id").alias("text_len"),
        )

    merge_batch_into_tier(job, "1m", batch(50_000, 0), 0)
    t = job.table("tier_1m")
    old = dict(t.data_files())
    with _Aside(old, str(tmp_path / "aside")):
        # a later batch: every key it re-emits is newer than every file
        merge_batch_into_tier(job, "1m", batch(100, 1), 1)
    now = dict(t.data_files())
    assert set(old) <= set(now)
    new_bytes = sum(b for p, b in now.items() if p not in old)
    assert 0 < new_bytes < sum(old.values()) / 20
    assert job.read_tier("1m").count() == 50_100


def test_expire_deletes_only_files_no_retained_snapshot_lists(
    spark, tmp_path
):
    t = ParquetSnapshotTable(str(tmp_path / "t"))
    t.append(_rows(spark, 0, 10, 0))
    a = {p for p, _ in t.data_files()}
    t.append(_rows(spark, 10, 20, 1))
    b = {p for p, _ in t.data_files()} - a
    # replaces partition 1: B is dropped, A stays listed
    t.overwrite_partitions(_rows(spark, 20, 25, 1), partitions=[1])
    c = {p for p, _ in t.data_files()} - a
    assert {p for p, _ in t.data_files()} == a | c

    expired = t.expire_snapshots(keep_last=1)
    assert len(expired) == 2
    assert all(os.path.exists(p) for p in a | c)
    assert not any(os.path.exists(p) for p in b)
    assert _data_files_on_disk(t) == a | c
    assert _ids(t.read(spark)) == list(range(10)) + list(range(20, 25))


def test_crash_before_pointer_flip_leaves_previous_snapshot(
    spark, tmp_path, monkeypatch
):
    t = ParquetSnapshotTable(str(tmp_path / "t"))
    s1 = t.append(_rows(spark, 0, 10, 0))
    before = set(dict(t.data_files()))

    def crash(*_args):
        raise RuntimeError("killed before the commit rename")

    with monkeypatch.context() as m:
        m.setattr(tables.os, "replace", crash)
        with pytest.raises(RuntimeError, match="killed"):
            t.append(_rows(spark, 10, 20, 0))
    orphans = _data_files_on_disk(t) - before
    assert orphans  # the data write happened
    assert t.snapshot_id() == s1
    assert [m["snapshot_id"] for m in t.history()] == [s1]
    assert _ids(t.read(spark)) == list(range(10))

    t.append(_rows(spark, 30, 35, 0))
    listed = set(dict(t.data_files()))
    assert not listed & orphans
    assert _ids(t.read(spark)) == list(range(10)) + list(range(30, 35))


def test_crash_after_pointer_flip_is_committed_and_in_history(
    spark, tmp_path, monkeypatch
):
    """The pointer flip is the commit: a crash before the snapshot's
    meta/ copy lands leaves it current, listed in history and
    travelable, and the next commit writes the copy."""
    t = ParquetSnapshotTable(str(tmp_path / "t"))
    s1 = t.append(_rows(spark, 0, 10, 0))
    replace = os.replace
    targets = []

    def flip_then_crash(src, dst):
        targets.append(dst)
        if len(targets) > 1:
            raise RuntimeError("killed after the pointer flip")
        replace(src, dst)

    with monkeypatch.context() as m:
        m.setattr(tables.os, "replace", flip_then_crash)
        with pytest.raises(RuntimeError, match="killed"):
            t.append(_rows(spark, 10, 20, 0))
    s2 = t.snapshot_id()
    assert s2 != s1
    assert targets[0] == os.path.join(t.path, "_SNAPSHOT.json")
    assert not os.path.exists(os.path.join(t.path, "meta", f"{s2}.json"))
    assert [m["snapshot_id"] for m in t.history()] == [s2, s1]
    assert _ids(t.read_as_of(spark, s2)) == list(range(20))

    s3 = t.append(_rows(spark, 20, 25, 0))
    assert os.path.exists(os.path.join(t.path, "meta", f"{s2}.json"))
    assert [m["snapshot_id"] for m in t.history()] == [s3, s2, s1]
    assert t.expire_snapshots(keep_last=2) == [s1]
    assert _ids(t.read_as_of(spark, s2)) == list(range(20))


def test_legacy_data_path_pointer_reads_and_carries_forward(
    spark, tmp_path
):
    root = tmp_path / "t"
    legacy_dir = root / "data" / "0000000000001-legacy0"
    _rows(spark, 0, 10, 0).coalesce(2).write.parquet(str(legacy_dir))
    os.makedirs(root / "meta")
    meta = {
        "snapshot_id": "0000000000001-legacy0",
        "data_path": str(legacy_dir),
        "parents": [],
        "committed_at": 0.0,
    }
    for p in (root / "_SNAPSHOT.json",
              root / "meta" / "0000000000001-legacy0.json"):
        p.write_text(json.dumps(meta))

    t = ParquetSnapshotTable(str(root))
    assert _ids(t.read(spark)) == list(range(10))
    legacy_files = set(dict(t.data_files()))
    assert len(legacy_files) == 2

    t.append(_rows(spark, 10, 15, 1))
    assert legacy_files <= set(dict(t.data_files()))  # by reference
    assert _ids(t.read(spark)) == list(range(15))
    t.overwrite_partitions(_rows(spark, 100, 102, 0), partitions=[0])
    assert _ids(t.read(spark)) == [10, 11, 12, 13, 14, 100, 101]


def test_read_of_many_files_runs_one_spark_job(spark, tmp_path):
    t = ParquetSnapshotTable(str(tmp_path / "t"))
    for i in range(41):
        t.append(_rows(spark, 5 * i, 5 * i + 5, i % 4).coalesce(1))
    assert len(t.data_files()) >= 40

    conf = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    threshold = spark.conf.get(conf)
    sc = spark.sparkContext
    group = f"snapshot-read-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "one snapshot read")
    try:
        rows = t.read(spark).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(rows) == 205
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert spark.conf.get(conf) == threshold  # lifted for the read only


def test_since_bounded_replace_keeps_older_files_and_splits_straddlers(
    spark, tmp_path
):
    """Files before ``since`` stay by reference, files wholly inside the
    condition are dropped, a straddling file keeps its other rows."""
    t = ParquetSnapshotTable(str(tmp_path / "t"))
    t.append(_rows(spark, 0, 100, 0, day=0).coalesce(1))   # old: kept
    old = set(dict(t.data_files()))
    t.append(_rows(spark, 0, 100, 0, day=1).coalesce(1))   # straddles
    t.append(_rows(spark, 0, 100, 1, day=1).coalesce(1))   # other partition
    since = pd.Timestamp("2024-01-02 01:00:00").to_pydatetime()
    t.overwrite_partitions(
        _rows(spark, 500, 510, 0, day=1), partitions=[0], since=since
    )
    assert old <= set(dict(t.data_files()))
    got = t.read(spark).toPandas()
    p0 = got[got.partition_id == 0]
    assert len(p0) == 100 + 60 + 10  # day 0, day 1 before 01:00, new
    assert (got.partition_id == 1).sum() == 100
    tail = t.read(spark, partitions=[0], since=since).toPandas()
    assert sorted(tail["id"]) == list(range(500, 510))
    with pytest.raises(ValueError, match="partition_id only"):
        t.overwrite_partitions(_rows(spark, 0, 1, 0), "id", partitions=[0])
