"""A RollupJob reads its manifest once.

Resume, the watermarks behind refresh and retention, and the stream
sink's at-least-once lineage dedup all answer from the job's lineage
list: one collect the first time a lineage question is asked, then the
rows the job itself commits.  After that, none of them runs a Spark
job, and the sink never reads the manifest.
"""

from __future__ import annotations

import uuid

import pandas as pd
from pyspark.sql import functions as F

from tsaug_spark.sources.checkpoint import RollupJob
from tsaug_spark.streaming.stream_sink import merge_batch_into_tier


def _jobs_run(spark, fn) -> list:
    """The Spark job ids ``fn()`` started, counted over a job group."""
    sc = spark.sparkContext
    group = f"lineage-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "lineage questions")
    try:
        fn()
        return list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _batch(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=[
            "conv_id", "bucket_ts", "turn_rate", "tool_usage", "text_len",
        ])
    ).withColumn("bucket_ts", F.to_timestamp("bucket_ts"))


def test_lineage_questions_run_no_spark_job_once_loaded(
    spark, transcripts, tmp_path
):
    path = str(tmp_path / "job")
    b0 = _batch(spark, [("c-1", "2024-01-01 00:01:00", 3, 1, 120)])
    first = RollupJob(spark, path, n_partitions=2, source_snapshot="s1")
    first.run(transcripts, "1m", partitions=[0])
    merge_batch_into_tier(first, "1m_stream", b0, 0, stream_id="ab")

    # a fresh job over the existing manifest: the first question loads
    job = RollupJob(spark, path, n_partitions=2, source_snapshot="s1")
    assert job.completed_partitions("1m") == {0}
    wms = {}
    recorded = {}

    def ask():
        assert job.completed_partitions("1m") == {0}
        wms.update(job._tier_watermarks("1m"))
        for label in ("stream-batch:ab:0", "stream-batch:ab:1"):
            recorded[label] = job.snapshot_recorded("1m_stream", label)

    assert _jobs_run(spark, ask) == []
    assert set(wms) == {0} and wms[0] is not None
    assert recorded == {"stream-batch:ab:0": True,
                        "stream-batch:ab:1": False}

    # the job's own commits extend the list
    job.run(transcripts, "1m", partitions=[1])
    assert _jobs_run(
        spark, lambda: job.completed_partitions("1m")
    ) == []
    assert job.completed_partitions("1m") == {0, 1}

    # the sink decides from the list: an at-least-once retry of batch 0
    # still skips its manifest row, and batch 1 records its own
    def no_read(*a, **k):
        raise AssertionError("the stream sink read the manifest")

    job.manifest.read = no_read
    merge_batch_into_tier(job, "1m_stream", b0, 0, stream_id="ab")
    b1 = _batch(spark, [("c-1", "2024-01-01 00:02:00", 1, 0, 40)])
    merge_batch_into_tier(job, "1m_stream", b1, 1, stream_id="ab")
    del job.manifest.read
    assert _jobs_run(spark, lambda: recorded.update(
        retry=job.snapshot_recorded("1m_stream", "stream-batch:ab:1")
    )) == []
    assert recorded["retry"]
    labels = (
        job.metrics("1m_stream").toPandas()["source_snapshot"].tolist()
    )
    assert sorted(labels) == ["stream-batch:ab:0", "stream-batch:ab:1"]
