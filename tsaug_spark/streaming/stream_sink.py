"""Streaming ingest into the retention store: watermarked stream rollup
-> foreachBatch merge into the RollupJob tier table, with manifest
lineage per micro-batch.

This closes the production loop the north rule describes: the raw
transcript stream maintains the 1m tier incrementally (update-mode
windowed agg, so each emitted row carries the FULL aggregate for its
bucket so far), the coarser tiers re-aggregate batch-side
(``RollupJob.cascade_tier``), and retention/expiry run against the same
tables.  Each micro-batch commit is merge-by-bucket (replace rows whose
(conv_id, bucket_ts) the batch re-emitted, keep the rest), so the
caught-up table equals the batch rollup exactly — proven by test.

Each merge is one since-bounded replace (``overwrite_partitions`` with
``since`` = the batch's earliest bucket): on Iceberg a condition
overwrite, on the parquet-snapshot table a commit that keeps every data
file older than the batch by reference.  The lineage row of a batch is
skipped when ``RollupJob.snapshot_recorded`` finds its label already in
the job's lineage list (foreachBatch is at-least-once), so the sink
never reads the manifest itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsaug_spark.sources.checkpoint import RollupJob

from .stream_rollup import stream_rollup


def merge_batch_into_tier(
    job: RollupJob,
    tier: str,
    batch_df: DataFrame,
    batch_id: int,
    stream_id: str = "",
) -> None:
    """foreachBatch body: merge one micro-batch of (conv_id, bucket_ts,
    metrics) rows into the tier table + append a lineage row.

    ``stream_id`` scopes the at-least-once lineage dedup: micro-batch
    ids restart at 0 for every new streaming checkpoint, so without a
    per-stream scope a SECOND stream's early batches would collide with
    a previous stream's manifest rows and skip their lineage appends.
    Pass something stable per checkpoint (run_stream_ingest_once
    derives it from the checkpoint dir)."""
    spark = batch_df.sparkSession
    rows = batch_df.withColumn("partition_id", job._partition_col()).cache()
    # ONE action materializes the cache and yields count, lineage
    # bounds and the touched partitions together
    n, lo, wm, touched = rows.agg(
        F.count(F.lit(1)),
        F.min("bucket_ts"),
        F.max("bucket_ts"),
        F.collect_set("partition_id"),
    ).collect()[0]
    if n == 0:
        rows.unpersist()
        return
    t = job.table(f"tier_{tier}")
    if t.exists():
        # every re-emitted (conv_id, bucket_ts) key is at/after the
        # batch's earliest bucket: replace the touched partitions' rows
        # from there on with the batch rows plus the tail rows the
        # batch did not re-emit
        keys = rows.select("conv_id", "bucket_ts")
        kept = t.read(spark, partitions=touched, since=lo).join(
            keys, ["conv_id", "bucket_ts"], "left_anti"
        )
        t.overwrite_partitions(
            kept.unionByName(rows.select(*kept.columns)),
            "partition_id",
            partitions=touched,
            since=lo,
        )
    else:
        t.append(rows)
    # foreachBatch is at-least-once: the merge above is idempotent on
    # retry, but the lineage append is not — skip it when this batch's
    # label already has a manifest row for this tier
    snap = (
        f"stream-batch:{stream_id}:{batch_id}"
        if stream_id
        else f"stream-batch:{batch_id}"
    )
    if not job.snapshot_recorded(tier, snap):
        # streaming commits are not partition-scoped: partition_id -1
        job._append_manifest(
            [job._manifest_row(tier, -1, lo, wm, n, snapshot=snap)]
        )
    rows.unpersist()


def run_stream_ingest_once(
    spark,
    source_dir: str,
    schema,
    job: RollupJob,
    tier: str = "1m",
    watermark: str = "10 minutes",
    max_files_per_trigger: int = 4,
    checkpoint_dir: str | None = None,
):
    """availableNow streaming ingest of a transcript file source into
    ``job``'s tier table.  Update output mode + merge-by-bucket: once
    caught up, ``job.read_tier(tier)`` equals the batch rollup."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    rolled = stream_rollup(stream, tier, watermark=watermark)
    import hashlib as _hl

    stream_id = (
        _hl.md5(checkpoint_dir.encode()).hexdigest()[:8]
        if checkpoint_dir
        else ""
    )
    writer = (
        rolled.writeStream.outputMode("update")
        .foreachBatch(
            lambda df, bid: merge_batch_into_tier(
                job, tier, df, bid, stream_id=stream_id
            )
        )
        .trigger(availableNow=True)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            "availableNow ingest did not finish in 300s; tier table "
            "would be partially populated — refusing to proceed"
        )
