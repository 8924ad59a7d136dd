"""Rows the driver already holds reach the tables without a Python RDD.

A manifest commit hands ``append`` a ``pyarrow.Table``: the snapshot
table writes it on the driver (no Spark job) and the Iceberg-semantics
double converts it with ``createDataFrame`` (an Arrow-built local
relation).  Per-partition refresh cutoffs are literal map lookups, not
a ``createDataFrame(<list>)`` frame broadcast-joined in.  Either way no
executed plan scans a pickled Python RDD (``applySchemaToPythonRDD``),
so no Python worker starts for rows the driver built.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from tsaug_spark.plans.rollup import rollup_transcripts
from tsaug_spark.sources.checkpoint import (
    MANIFEST_SCHEMA,
    RollupJob,
    _manifest_table,
)
from tsaug_spark.sources.tables import ParquetSnapshotTable
from tsaug_spark.streaming.stream_sink import merge_batch_into_tier

#: manifest rows covering the edge values: a stream row
#: (partition_id -1), a NULL watermark and a pre-1970 timestamp
ROWS = [
    ("1m", 0, "snapA", dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2, 3, 4),
     120, 3840, 512, 1.7e9),
    ("1m", -1, "stream-batch:ab:0", dt.datetime(2024, 1, 2),
     dt.datetime(2024, 1, 2, 0, 59), 7, 0, 0, 1.7e9 + 0.25),
    ("1h", 3, "snapA", dt.datetime(1969, 7, 20, 20, 17, 40), None,
     0, 0, 0, 1.7e9 + 0.5),
    ("1m#expired", -1, "snapA", dt.datetime(1965, 3, 18, 8, 12, 3, 456789),
     dt.datetime(1960, 1, 1), -42, 0, 0, 1.7e9 + 0.75),
]


def _hash_sum(df):
    """Row count and the sum of every row's xxhash64 (decimal: a long
    sum would overflow)."""
    return df.agg(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")),
    ).collect()[0]


def test_manifest_commit_runs_no_spark_job(spark, tmp_path):
    job = RollupJob(spark, str(tmp_path / "job"), n_partitions=4)
    sc = spark.sparkContext
    group = f"manifest-commit-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "manifest commits")
    try:
        before = list(sc.statusTracker().getJobIdsForGroup(group))
        job._append_manifest(ROWS[:2])  # creates the table
        job._append_manifest(ROWS[2:])  # appends to it
        after = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert before == [] and after == []
    assert job.manifest.read(spark).count() == len(ROWS)


def test_pyarrow_manifest_matches_spark_written_manifest(
    spark, tmp_path, table_cls
):
    """Two commits each way, so both the first commit and an append to
    a stored schema are compared."""
    by_arrow = table_cls(str(tmp_path / "arrow"))
    by_spark = table_cls(str(tmp_path / "spark"))
    for part in (ROWS[:2], ROWS[2:]):
        by_arrow.append(_manifest_table(part))
        by_spark.append(spark.createDataFrame(part, MANIFEST_SCHEMA))
    got, want = by_arrow.read(spark), by_spark.read(spark)
    assert got.schema == want.schema
    assert _hash_sum(got) == _hash_sum(want)
    assert _hash_sum(got)[0] == len(ROWS)
    key = ["tier", "source_snapshot", "partition_id"]
    assert got.orderBy(*key).collect() == want.orderBy(*key).collect()
    if table_cls is ParquetSnapshotTable:
        stored = [
            json.load(open(os.path.join(t.path, "_SNAPSHOT.json")))["schema"]
            for t in (by_arrow, by_spark)
        ]
        assert stored[0] == stored[1] == MANIFEST_SCHEMA.jsonValue()


def test_bloom_table_refuses_a_pyarrow_append(tmp_path):
    t = ParquetSnapshotTable(str(tmp_path / "b"), bloom_cols=("tier",))
    with pytest.raises(ValueError, match="bloom"):
        t.append(_manifest_table(ROWS))
    assert not t.exists()


def _python_rdd_scans(spark, after_id: int) -> list[str]:
    """Plans of the SQL executions with id > ``after_id`` that scan an
    RDD built from Python rows."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    it = spark._jsparkSession.sharedState().statusStore() \
        .executionsList().iterator()
    out = []
    while it.hasNext():
        e = it.next()
        plan = e.physicalPlanDescription()
        if e.executionId() > after_id and "applySchemaToPythonRDD" in plan:
            out.append(plan)
    return out


def _last_execution_id(spark) -> int:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return execs.apply(execs.size() - 1).executionId() if execs.size() else -1


def test_refresh_and_stream_merge_plans_scan_no_python_rdd(
    spark, transcripts, tmp_path, table_cls
):
    path = str(tmp_path / "src")
    transcripts.write.parquet(path)
    src = spark.read.parquet(path)
    lo, hi = src.agg(
        F.min(F.unix_timestamp("ts")), F.max(F.unix_timestamp("ts"))
    ).collect()[0]
    cutoff = F.timestamp_seconds(F.lit(int(lo + 0.7 * (hi - lo))))
    job = RollupJob(spark, str(tmp_path / "job"), n_partitions=2,
                    source_snapshot="snap1", table_cls=table_cls)
    job.run(src.filter(F.col("ts") < cutoff), "1m")
    job.cascade_tier("1m", "1h")

    mark = _last_execution_id(spark)
    job.update(src, "1m", grace="2 hours", new_snapshot="snap2")
    job.cascade_update("1m", "1h", grace="2 hours", new_snapshot="snap2")
    batch = rollup_transcripts(src.filter(F.col("ts") >= cutoff), "1m")
    merge_batch_into_tier(job, "1m", batch, 0, stream_id="s")
    assert _last_execution_id(spark) > mark  # the window saw the work
    assert _python_rdd_scans(spark, mark) == []
