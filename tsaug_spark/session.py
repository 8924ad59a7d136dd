"""SparkSession factory with the engine's standard configuration.

All jobs — tests, bench, spark-submit entry points — build their session
here so that Arrow transfer, AQE, and shuffle sizing are consistent.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession


def _zip_stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def skip_unchanged_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive changed since that directory was
    read.

    PySpark's Python worker calls ``importlib.invalidate_caches()`` at
    the start of every task (``pyspark/worker_util.py:144``, in
    ``setup_spark_files``).  On CPython 3.11 each ``zipimporter`` then
    re-reads its archive's whole central directory, eagerly: one
    importer per imported pyspark subpackage on ``pyspark.zip``, the
    py4j zip, two on the 15 MB spark-core jar, and the spark-submit
    ``--py-files`` zip — ~200 ms of every Python task, more than most
    kernels take.  CPython 3.12 made the re-read lazy (gh-103200), so
    there this does nothing.

    Each directory read is stamped with the archive's
    ``(st_mtime_ns, st_size, st_ino)``, taken before the read.  An
    importer skips the re-read when its ``_files`` is the archive's
    last read and the archive still has that stamp; an importer
    holding an older read takes the last one if the stamp still
    matches, and anything else re-reads.  Importers made before this
    runs are re-read once here, so their stamps are known.  Every
    engine kernel unpickled in a worker imports ``tsaug_spark``, which
    calls this, so the worker's later tasks skip the re-reads.
    Idempotent."""
    if sys.version_info >= (3, 12) or hasattr(zipimport, "_stamped_reads"):
        return
    reads = zipimport._stamped_reads = {}
    read_directory = zipimport._read_directory
    reread = zipimport.zipimporter.invalidate_caches

    def _read_directory(archive):
        stamp = _zip_stamp(archive)
        files = read_directory(archive)
        reads[archive] = (stamp, files)
        return files

    def invalidate_caches(self):
        stamp, files = reads.get(self.archive, (None, None))
        if stamp is None or stamp != _zip_stamp(self.archive):
            reread(self)  # through zipimport._read_directory: stamped
        else:
            self._files = files

    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, zipimport.zipimporter):
            imp.invalidate_caches()


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
