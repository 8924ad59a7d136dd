"""SparkSession factory with the engine's standard configuration.

All jobs — tests, bench, spark-submit entry points — build their session
here so that Arrow transfer, AQE, and shuffle sizing are consistent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Defaults chosen for the rollup workload: AQE re-plans skewed stages at
#: runtime, Arrow keeps the pandas-kernel boundary columnar, and shuffle
#: partition count tracks core count (overridable per-run for scale-up).
ENGINE_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # 128 MiB parquet split target — matches the prod cluster guidance; at
    # sandbox scale every file is a single split anyway.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # INT96 (the default) stores no footer min/max: TIMESTAMP_MICROS gives
    # every bucket_ts column statistics that snapshot commits and reads
    # prune data files on (sources/tables.py).
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.driver.memory": "8g",
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "tsaug_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Parameters
    ----------
    master:
        Spark master URL.  Defaults to ``local[$SPARK_GRAFT_CPUS]`` in the
        sandbox (env var set by the driver, falling back to ``local[*]``).
        On a real cluster the master comes from spark-submit and this
        argument is left ``None``.
    shuffle_partitions:
        Target shuffle parallelism.  Defaults to the core count of the
        local master, or 2x executor cores cluster-side.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and not os.environ.get("SPARK_SUBMIT_DEPLOY_MODE"):
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master is not None:
        builder = builder.master(master)

    conf = dict(ENGINE_CONF)
    if shuffle_partitions is None:
        if master and master.startswith("local["):
            inner = master[len("local[") : -1]
            shuffle_partitions = 32 if inner == "*" else max(int(inner), 4)
        else:
            shuffle_partitions = 200
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
