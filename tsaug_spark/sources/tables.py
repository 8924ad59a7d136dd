"""Table-format abstraction: Iceberg in production, parquet data files +
a JSON snapshot list in-sandbox (no Iceberg runtime jars available here —
SURVEY.md §7.4 R4).

Both formats expose the same operations the engine needs:

* ``read(spark)``                 -> DataFrame of the current snapshot
* ``read_arrow(spark, columns, conv_ids, ts_lo, ts_hi)``
                                  -> ``pyarrow.Table`` of the chunk rows
                                     a dashboard read decodes
* ``append`` / ``overwrite`` / ``overwrite_partitions``
                                  -> atomically advance the snapshot
* ``snapshot_id()``               -> lineage token recorded in checkpoints

``append`` accepts a DataFrame or a ``pyarrow.Table``.  The latter holds
rows the driver already has (the checkpoint manifest's lineage rows):
``ParquetSnapshotTable`` writes it on the driver with pyarrow, no Spark
job and no Python worker; ``IcebergTable`` converts it with
``createDataFrame``, which Spark turns into a local relation through
Arrow, not a pickled Python RDD.

``ParquetSnapshotTable`` implements snapshot isolation the way Iceberg's
metadata layer does, scaled down: a snapshot is a JSON list of immutable
parquet data files plus the table schema.  A commit writes only its new
files into a fresh ``data/<snapshot>/`` directory, lists them after the
files it keeps by reference, and renames a tiny JSON pointer file into
place (rename is the atomic commit).  Readers resolve the pointer first,
so concurrent writers never corrupt a read.  ``IcebergTable`` is a thin
wrapper over ``spark.read.format('iceberg')`` / ``writeTo`` for clusters
that have the runtime; it is import-guarded and untested in this sandbox.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid
from dataclasses import dataclass
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
from pyspark.sql.types import StructField, StructType, TimestampType

from tsaug_spark.codec.chunks import zone_map_overlaps
from tsaug_spark.lineage import truncate_lineage

if TYPE_CHECKING:
    import pyarrow as pa

#: the time axis that ``since`` bounds in ``overwrite_partitions``/``read``
TIME_COL = "bucket_ts"
#: columns whose footer ``[min, max, null_count]`` each file entry records
STATS_COLS = ("partition_id", TIME_COL)
#: the footer key under which Spark stores the schema it wrote
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
_LISTING_CONF = "spark.sql.sources.parallelPartitionDiscovery.threshold"
_LISTING_LOCK = threading.Lock()


def replace_condition(partition_col: str, partitions, since=None):
    """The rows ``overwrite_partitions(df, partition_col, partitions,
    since)`` replaces: ``partition_col`` in ``partitions`` and, when
    ``since`` is given, ``bucket_ts >= since``."""
    cond = F.col(partition_col).isin([_plain(p) for p in partitions])
    if since is not None:
        cond = cond & (F.col(TIME_COL) >= F.lit(since))
    return cond


def chunk_condition(conv_ids=None, ts_lo=None, ts_hi=None):
    """The chunk rows ``read_arrow`` returns, as a Spark condition:
    ``conv_id`` in ``conv_ids`` (when given) and a zone map
    [``ts_min``, ``ts_max``] overlapping [``ts_lo``, ``ts_hi``] (epoch
    seconds, inclusive; either may be None) by the rule of
    ``zone_map_overlaps``, where a NULL zone map overlaps."""

    def at(epoch_s):
        return None if epoch_s is None else F.timestamp_seconds(
            F.lit(int(epoch_s)))

    cond = zone_map_overlaps(at(ts_lo), at(ts_hi))
    if conv_ids is not None:
        cond = cond & F.col("conv_id").isin(list(conv_ids))
    return cond


def _chunk_expression(conv_ids=None, ts_lo=None, ts_hi=None):
    """``chunk_condition`` as a ``pyarrow.dataset`` filter expression."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    def at(epoch_s):
        return pa.scalar(int(epoch_s) * 10 ** 6, pa.timestamp("us", tz="UTC"))

    cond = ds.scalar(True)
    if conv_ids is not None:
        cond = cond & ds.field("conv_id").isin(list(conv_ids))
    if ts_lo is not None:
        ts_max = ds.field("ts_max")
        cond = cond & (ts_max.is_null() | (ts_max >= at(ts_lo)))
    if ts_hi is not None:
        ts_min = ds.field("ts_min")
        cond = cond & (ts_min.is_null() | (ts_min <= at(ts_hi)))
    return cond


def _plain(v):
    """numpy scalar -> Python scalar (for JSON and ``isin`` literals)."""
    return v.item() if hasattr(v, "item") else v


def _file_entry(root: str, rel: str) -> dict:
    """A data-file entry: path (relative to the table root), bytes, rows
    and, per ``STATS_COLS`` column, the footer ``[min, max, null_count]``
    over its row groups (raw values: ints, timestamps as epoch
    microseconds).  A column the file lacks reads as all-NULL
    (``[None, None, rows]``); a column without min/max in every row
    group (e.g. an INT96 timestamp) gets no key, which the checks treat
    as unknown."""
    import pyarrow.parquet as pq

    path = os.path.join(root, rel)
    md = pq.read_metadata(path)
    entry = {"path": rel, "bytes": os.path.getsize(path), "rows": md.num_rows}
    cols = {md.schema.column(i).path: i for i in range(md.num_columns)}
    for name in STATS_COLS:
        i = cols.get(name)
        if i is None:
            entry[name] = [None, None, md.num_rows]
            continue
        col = md.schema.column(i)
        lt = json.loads(col.logical_type.to_json())
        if col.physical_type not in ("INT32", "INT64") or not (
            lt["Type"] in ("None", "Int")
            or lt["Type"] == "Timestamp"
            and lt["isAdjustedToUTC"]
            and lt["timeUnit"] == "microseconds"
        ):
            continue
        st = [md.row_group(g).column(i).statistics
              for g in range(md.num_row_groups)]
        if st and all(
            s is not None and s.has_min_max and s.has_null_count for s in st
        ):
            entry[name] = [
                min(s.min_raw for s in st),
                max(s.max_raw for s in st),
                sum(s.null_count for s in st),
            ]
    return entry


def _overlap(entry: dict, partitions, since_us) -> str:
    """How a data file meets the replace condition, from its footer
    stats: ``"none"`` (no row can match: keep the file by reference),
    ``"all"`` (every row matches: drop it) or ``"some"`` (mixed or
    unknown: rewrite its other rows)."""
    checks = []
    if "partition_id" in entry:
        lo, hi, nulls = entry["partition_id"]
        if lo is None or not any(lo <= p <= hi for p in partitions):
            return "none"
        checks.append(
            nulls == 0
            and hi - lo < len(partitions)
            and set(range(lo, hi + 1)) <= set(partitions)
        )
    else:
        checks.append(False)
    if since_us is not None:
        if TIME_COL in entry:
            lo, hi, nulls = entry[TIME_COL]
            if lo is None or hi < since_us:
                return "none"
            checks.append(nulls == 0 and lo >= since_us)
        else:
            checks.append(False)
    return "all" if all(checks) else "some"


def _write_json(path: str, obj: dict) -> None:
    """Write ``obj`` to ``path`` atomically (temp file + rename)."""
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


@dataclass
class ParquetSnapshotTable:
    """Immutable parquet data files + an atomic JSON snapshot list.

    A snapshot (``meta/<snapshot>.json``; the current one is also the
    pointer ``_SNAPSHOT.json``) holds the table schema and the list of
    its data files, each with bytes, rows and the footer min/max of
    ``partition_id`` and ``bucket_ts``.  A commit writes only new files
    and keeps untouched ones by reference; a read scans exactly the
    listed files under the stored schema.  Each public method stands in
    for an Iceberg operation:

    * ``read``: a table scan; with ``partitions``/``since``, a filtered
      scan that plans only the files whose stats can match;
    * ``read_arrow``: pyiceberg's ``Table.scan(row_filter,
      selected_fields).to_arrow()``, a scan on the driver into a
      ``pyarrow.Table`` (the read-side twin of appending one);
    * ``append``: ``AppendFiles`` (``INSERT INTO``); a DataFrame is
      written by a Spark job, a ``pyarrow.Table`` on the driver;
    * ``overwrite``: a full replace (``INSERT OVERWRITE`` of an
      unpartitioned table);
    * ``overwrite_partitions``: ``OverwriteFiles`` by row filter
      (``DataFrameWriterV2.overwrite(condition)``);
    * ``snapshot_id``: ``currentSnapshot().snapshotId()``;
    * ``history``: the ``<table>.snapshots`` metadata table;
    * ``read_as_of``: ``VERSION AS OF`` (``snapshot-id`` scan option);
    * ``rollback``: ``CALL system.rollback_to_snapshot``;
    * ``expire_snapshots``: ``CALL system.expire_snapshots``;
    * ``data_files``: the ``<table>.files`` metadata table;
    * ``compact``: ``CALL system.rewrite_data_files``.

    ``bloom_cols`` opts selected columns into parquet bloom filters
    (``parquet.bloom.filter.enabled#<col>``) on every write through
    :meth:`_commit` — the needle-in-haystack point-lookup index for
    columns too high-cardinality to dictionary-encode (a ``conv_id``
    probe at 10^12 turns touches only the row groups whose bloom
    admits the key; parquet-mr skips the bloom and keeps the exact
    dictionary filter when a chunk stays fully dictionary-encoded, so
    the option is safe to leave on).  ``bloom_ndv`` sizes the filter
    (bits ~= 10 x ndv at the default 1% fpp).  pyarrow has no bloom
    writer, so such a table refuses a ``pyarrow.Table`` append.
    """

    path: str
    bloom_cols: tuple = ()
    bloom_ndv: int = 1_000_000

    @property
    def _pointer(self) -> str:
        return os.path.join(self.path, "_SNAPSHOT.json")

    @property
    def _meta_dir(self) -> str:
        return os.path.join(self.path, "meta")

    def _load(self, path: str) -> dict:
        """The snapshot metadata stored at ``path``.  A legacy snapshot
        (one ``data_path`` directory, no file list) is converted here,
        once: its files are described from their footers and its schema
        is the one Spark stores in every footer it writes, so the rest
        of the class sees one format and the next commit carries the
        legacy rows forward by reference."""
        with open(path) as fh:
            meta = json.load(fh)
        if "files" in meta:
            return meta
        import pyarrow.parquet as pq

        files = [
            _file_entry(
                self.path, os.path.relpath(os.path.join(root, n), self.path)
            )
            for root, _dirs, names in os.walk(meta["data_path"])
            for n in sorted(names)
            if n.endswith(".parquet")
        ]
        schema = None  # no data file left: nothing to read
        if files:
            footer = pq.read_metadata(os.path.join(self.path, files[0]["path"]))
            schema = json.loads(footer.metadata[_SPARK_SCHEMA_KEY])
        return {**meta, "files": files, "schema": schema}

    def _resolve(self) -> dict | None:
        try:
            return self._load(self._pointer)
        except FileNotFoundError:
            return None

    def exists(self) -> bool:
        return self._resolve() is not None

    def snapshot_id(self) -> str | None:
        meta = self._resolve()
        return meta["snapshot_id"] if meta else None

    def _scan(
        self,
        spark: SparkSession,
        meta: dict,
        files: "list[dict] | None" = None,
    ) -> DataFrame:
        """Exactly ``files`` (default: all of ``meta``'s) under the
        snapshot's stored schema: no schema-inference job, and no
        listing job at any file count.  No file gives an empty scan."""
        schema = StructType.fromJson(meta["schema"])
        paths = [
            os.path.join(self.path, f["path"])
            for f in (meta["files"] if files is None else files)
        ]
        # Spark lists the named paths while it creates the DataFrame, in
        # a Spark job once there are more of them than the parallel-
        # discovery threshold (32).  Lift it for this read only: other
        # reads of the session keep it.
        with _LISTING_LOCK:
            old = spark.conf.get(_LISTING_CONF, None)
            spark.conf.set(_LISTING_CONF, str(len(paths)))
            try:
                return spark.read.schema(schema).parquet(*paths)
            finally:
                if old is None:
                    spark.conf.unset(_LISTING_CONF)
                else:
                    spark.conf.set(_LISTING_CONF, old)

    def read(
        self,
        spark: SparkSession,
        partitions: "list | None" = None,
        since=None,
    ) -> DataFrame:
        """The current snapshot.  Given ``partitions`` (and optionally
        ``since``), only the rows ``overwrite_partitions`` with the same
        arguments would replace: files whose stats cannot hold such rows
        are dropped before Spark opens one."""
        meta = self._resolve()
        if meta is None:
            raise FileNotFoundError(f"no snapshot at {self.path}")
        if partitions is None:
            return self._scan(spark, meta)
        files = self._classify(meta, partitions, since)
        return self._scan(spark, meta, files["some"] + files["all"]).filter(
            replace_condition("partition_id", partitions, since)
        )

    def read_arrow(
        self,
        spark: SparkSession,
        columns: "list[str]",
        conv_ids=None,
        ts_lo=None,
        ts_hi=None,
    ) -> "pa.Table":
        """``columns`` of the current snapshot's rows that match
        ``chunk_condition(conv_ids, ts_lo, ts_hi)``, scanned on the
        driver by ``pyarrow.dataset`` under the stored schema (a column
        a file lacks reads as NULL): no Spark job.  Row groups whose
        footer stats rule the filter out are skipped unread."""
        import pyarrow.dataset as ds

        meta = self._resolve()
        if meta is None:
            raise FileNotFoundError(f"no snapshot at {self.path}")
        dataset = ds.dataset(
            [os.path.join(self.path, f["path"]) for f in meta["files"]],
            schema=to_arrow_schema(StructType.fromJson(meta["schema"])),
            format="parquet",
        )
        return dataset.to_table(
            columns=list(columns),
            filter=_chunk_expression(conv_ids, ts_lo, ts_hi),
        )

    def _classify(self, meta: dict, partitions, since) -> dict:
        """The snapshot's files grouped by their ``_overlap`` verdict."""
        partitions = [_plain(p) for p in partitions]
        since_us = None if since is None else TimestampType().toInternal(since)
        out = {"none": [], "some": [], "all": []}
        for f in meta["files"]:
            out[_overlap(f, partitions, since_us)].append(f)
        return out

    # ---- commits ----

    def _commit(
        self,
        data: "DataFrame | pa.Table",
        parent: "dict | None",
        kept: "list[dict] | None" = None,
    ) -> str:
        """Write ``data`` as new data files and publish the snapshot that
        lists them after ``kept``.  A DataFrame is written by a Spark
        job, a ``pyarrow.Table`` by pyarrow on the driver; both end in
        the same publish step.  ``kept=None`` replaces the table, schema
        included.  Otherwise the parent's schema stays: ``data``'s
        shared columns are cast to it and new columns are added, which
        older files read as NULL (schema evolution)."""
        snap = f"{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}"
        is_df = isinstance(data, DataFrame)
        have = data.schema if is_df else from_arrow_schema(data.schema)
        write = schema = have
        if kept is not None and parent is not None:
            stored = StructType.fromJson(parent["schema"])
            types = {f.name: f.dataType for f in stored}
            write = StructType([
                StructField(
                    f.name, types.get(f.name, f.dataType), f.nullable,
                    f.metadata,
                )
                for f in have
            ])
            schema = StructType(
                list(stored) + [f for f in have if f.name not in types]
            )
        rel = os.path.join("data", snap)
        out = os.path.join(self.path, rel)
        if is_df:
            if write != have:
                data = data.select(
                    *[F.col(f.name).cast(f.dataType) for f in write]
                )
            self._write_spark(data, out)
        else:
            if write != have:
                data = data.cast(to_arrow_schema(write))
            self._write_arrow(data, out)
        added = []
        for n in sorted(os.listdir(out)):
            if n.endswith(".parquet"):
                entry = _file_entry(self.path, os.path.join(rel, n))
                if entry["rows"]:
                    added.append(entry)
                else:  # an empty write leaves one schema-only file
                    os.remove(os.path.join(self.path, entry["path"]))
        meta = {
            "snapshot_id": snap,
            "parents": [parent["snapshot_id"]] if parent else [],
            "committed_at": time.time(),
            "schema": schema.jsonValue(),
            "files": (kept or []) + added,
        }
        # The pointer flip is the atomic commit.  The durable copy that
        # history and time travel resolve through (meta/<snap>.json, the
        # Iceberg metadata-file analogue) lands after it, so meta/ holds
        # committed snapshots only.  A crash before the flip leaves
        # unlisted data files and nothing in history; a crash right
        # after it leaves the new current snapshot without its copy,
        # which history() and _meta_of() take from the pointer and the
        # next commit or rollback writes.
        self._persist(parent)
        _write_json(self._pointer, meta)
        self._persist(meta)
        return snap

    def _write_spark(self, df: DataFrame, out: str) -> None:
        """Write ``df`` into ``out`` with a Spark job."""
        writer = df.write.mode("errorifexists")
        for c in self.bloom_cols:
            writer = writer.option(
                f"parquet.bloom.filter.enabled#{c}", "true"
            ).option(
                f"parquet.bloom.filter.expected.ndv#{c}",
                str(self.bloom_ndv),
            )
        writer.parquet(out)

    def _write_arrow(self, table: "pa.Table", out: str) -> None:
        """Write ``table`` into ``out`` as one parquet file, on the
        driver: no Spark job."""
        import pyarrow.parquet as pq

        if self.bloom_cols:
            raise ValueError(
                f"{self.path} writes bloom filters on {self.bloom_cols}, "
                "which pyarrow cannot: append a DataFrame"
            )
        os.makedirs(out)
        pq.write_table(
            table, os.path.join(out, f"part-00000-{uuid.uuid4()}.parquet")
        )

    def _persist(self, meta: "dict | None") -> None:
        """Write ``meta/<snapshot>.json`` for a committed snapshot that
        has none yet."""
        if meta is None:
            return
        path = os.path.join(self._meta_dir, f"{meta['snapshot_id']}.json")
        if not os.path.exists(path):
            os.makedirs(self._meta_dir, exist_ok=True)
            _write_json(path, meta)

    def append(self, data: "DataFrame | pa.Table") -> str:
        """Add ``data``'s rows as new files; no existing file is read or
        rewritten.  A DataFrame is written by a Spark job; a
        ``pyarrow.Table`` is written on the driver, with no Spark job.
        New columns evolve the schema."""
        meta = self._resolve()
        return self._commit(data, meta, meta["files"] if meta else None)

    def overwrite(self, df: DataFrame) -> str:
        """Replace the whole table, schema included, with ``df``."""
        return self._commit(df, self._resolve())

    def overwrite_partitions(
        self,
        df: DataFrame,
        partition_col: str = "partition_id",
        partitions: "list | None" = None,
        since=None,
    ) -> str:
        """Replace the rows whose ``partition_col`` is in ``partitions``
        (default: the values present in ``df``) and, when ``since`` is
        given, whose ``bucket_ts >= since``, with ``df``'s rows.  Other
        rows stay.  Passing ``partitions`` explicitly with an empty
        ``df`` CLEARS those rows (a replacement that produced zero rows
        must not leave stale data behind).

        Files whose footer stats rule the condition out stay by
        reference, files holding only matching rows are dropped, and a
        file that straddles the condition has its other rows rewritten
        next to ``df``.  Safe against plans derived from this table:
        the commit only adds files, and the pointer flips last.  The
        file stats cover ``partition_id`` only, so that is the one
        ``partition_col`` this table accepts."""
        if partition_col != "partition_id":
            raise ValueError(
                "ParquetSnapshotTable replaces by partition_id only, "
                f"not {partition_col!r}"
            )
        meta = self._resolve()
        if meta is None:
            return self._commit(df, None)
        if partitions is None:
            partitions = [
                r[0] for r in df.select(partition_col).distinct().collect()
            ]
        files = self._classify(meta, partitions, since)
        if files["some"]:
            cond = replace_condition(partition_col, partitions, since)
            rest = self._scan(df.sparkSession, meta, files["some"]).filter(
                ~F.coalesce(cond, F.lit(False))
            )
            df = rest.unionByName(df, allowMissingColumns=True)
        return self._commit(df, meta, files["none"])

    # ---- time travel (Iceberg VERSION AS OF / rollback parity) ----

    def history(self) -> list[dict]:
        """All retained snapshots, newest first — the audit trail a
        training run pins its inputs to.  Resolves through the durable
        per-snapshot metadata files, plus the current pointer (a table
        written before meta/ existed, or a commit interrupted before its
        copy landed)."""
        metas = {}
        if os.path.isdir(self._meta_dir):
            for n in os.listdir(self._meta_dir):
                if n.endswith(".json"):
                    m = self._load(os.path.join(self._meta_dir, n))
                    metas[m["snapshot_id"]] = m
        cur = self._resolve()
        if cur is not None:
            metas.setdefault(cur["snapshot_id"], cur)
        return sorted(
            metas.values(), key=lambda m: m["snapshot_id"], reverse=True
        )

    def _meta_of(self, snapshot_id: str) -> dict:
        try:
            meta = self._load(
                os.path.join(self._meta_dir, f"{snapshot_id}.json")
            )
        except FileNotFoundError:
            meta = self._resolve()
            if meta is None or meta["snapshot_id"] != snapshot_id:
                raise LookupError(
                    f"snapshot {snapshot_id} unknown at {self.path} "
                    "(never committed, or expired)"
                ) from None
        if meta["schema"] is None or not all(
            os.path.exists(os.path.join(self.path, f["path"]))
            for f in meta["files"]
        ):
            raise LookupError(
                f"snapshot {snapshot_id} data expired at {self.path}"
            )
        return meta

    def read_as_of(
        self, spark: SparkSession, snapshot_id: str
    ) -> DataFrame:
        """Time-travel read: the table exactly as of ``snapshot_id``
        (Iceberg ``VERSION AS OF``).  Raises LookupError if the
        snapshot was never committed or its data has been expired."""
        return self._scan(spark, self._meta_of(snapshot_id))

    def rollback(self, snapshot_id: str) -> str:
        """Repoint the table at an earlier retained snapshot (Iceberg
        ``rollback_to_snapshot``).  Pure metadata — no data is copied;
        subsequent commits chain from the rolled-back snapshot."""
        target = self._meta_of(snapshot_id)
        self._persist(self._resolve())
        _write_json(self._pointer, target)
        return snapshot_id

    def expire_snapshots(self, keep_last: int = 3) -> list[str]:
        """Garbage-collect all but the newest ``keep_last`` snapshots
        (Iceberg ``expire_snapshots``): their metadata files are deleted,
        and so is every data file they list that no retained snapshot
        lists; the CURRENT snapshot is always retained regardless of
        age.  Returns the expired ids."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        current = self._resolve()
        hist = self.history()
        retained = hist[:keep_last] + ([current] if current else [])
        expired = [
            m for m in hist[keep_last:]
            if current is None or m["snapshot_id"] != current["snapshot_id"]
        ]
        live = {
            os.path.join(self.path, f["path"])
            for m in retained
            for f in m["files"]
        }
        dirs = set()
        for meta in expired:
            for f in meta["files"]:
                p = os.path.join(self.path, f["path"])
                if p not in live and os.path.exists(p):
                    os.remove(p)
                    dirs.add(os.path.dirname(p))
            try:
                os.remove(
                    os.path.join(self._meta_dir, f"{meta['snapshot_id']}.json")
                )
            except FileNotFoundError:
                pass
        for d in dirs:
            if not any(n.endswith(".parquet") for n in os.listdir(d)):
                shutil.rmtree(d, ignore_errors=True)
        return [m["snapshot_id"] for m in expired]

    def data_files(self) -> list[tuple[str, int]]:
        """(path, bytes) of the CURRENT snapshot's parquet data files."""
        meta = self._resolve()
        if meta is None:
            return []
        return [
            (os.path.join(self.path, f["path"]), f["bytes"])
            for f in meta["files"]
        ]

    def compact(
        self,
        spark: SparkSession,
        target_file_mb: int = 128,
        sort_by: "list[str] | None" = None,
    ) -> dict:
        """Rewrite the current snapshot into ~``target_file_mb`` files
        (Iceberg ``rewrite_data_files`` / Delta ``OPTIMIZE`` analogue).

        Every ``append`` and every partial overwrite adds files, so file
        counts grow under streaming ingest and incremental maintenance;
        compaction bin-packs them back.  Pure rewrite — row content is
        unchanged, the previous snapshot stays time-travelable until
        ``expire_snapshots``.  Skipped (no new snapshot) when the table
        is already at or below the target file count — unless
        ``sort_by`` is given.

        ``sort_by`` additionally CLUSTERS the rewrite (Iceberg
        ``rewrite_data_files`` with a sort strategy / Delta ``OPTIMIZE
        ZORDER BY`` analogue): ``repartitionByRange`` + in-partition
        sort gives files DISJOINT key ranges, so per-file and
        row-group min/max statistics become decisive for point and
        range reads — the file-level twin of the chunk store's zone
        maps.  Row multiset is unchanged; order within the table is
        not part of the contract."""
        import math

        meta = self._resolve()
        if meta is None:
            raise FileNotFoundError(f"no snapshot at {self.path}")
        files = self.data_files()
        total = sum(sz for _p, sz in files)
        n = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
        if n >= len(files) and not sort_by:
            return {
                "before_files": len(files),
                "after_files": len(files),
                "bytes": total,
                "compacted": False,
            }
        df = self._scan(spark, meta)
        if sort_by:
            df = df.repartitionByRange(
                n, *[F.col(c) for c in sort_by]
            ).sortWithinPartitions(*sort_by)
        else:
            df = df.coalesce(n)
        snap = self._commit(df, meta)
        return {
            "before_files": len(files),
            "after_files": len(self.data_files()),
            "bytes": total,
            "compacted": True,
            "snapshot_id": snap,
        }


class IcebergTable:
    """Iceberg-backed variant (requires the Iceberg runtime on the
    cluster; not exercisable in this sandbox)."""

    def __init__(self, identifier: str):
        self.identifier = identifier

    def exists(self) -> bool:
        spark = SparkSession.getActiveSession()
        return spark.catalog.tableExists(self.identifier)

    def read(
        self,
        spark: SparkSession,
        partitions: "list | None" = None,
        since=None,
    ) -> DataFrame:
        """Table scan; ``partitions``/``since`` filter it to the rows
        ``overwrite_partitions`` with the same arguments would replace
        (Iceberg prunes data files on the filter itself)."""
        df = spark.read.format("iceberg").load(self.identifier)
        if partitions is None:
            return df
        return df.filter(replace_condition("partition_id", partitions, since))

    def read_arrow(
        self,
        spark: SparkSession,
        columns: "list[str]",
        conv_ids=None,
        ts_lo=None,
        ts_hi=None,
    ) -> "pa.Table":
        """``columns`` of the rows matching ``chunk_condition``, as a
        ``pyarrow.Table``: a filtered scan collected with ``toArrow``
        (JVM-only, no Python worker).  pyiceberg's ``Table.scan(
        row_filter, selected_fields).to_arrow()`` is the driver-side
        equivalent where it is installed."""
        return (
            self.read(spark)
            .filter(chunk_condition(conv_ids, ts_lo, ts_hi))
            .select(*columns)
            .toArrow()
        )

    def snapshot_id(self) -> str | None:
        spark = SparkSession.getActiveSession()
        rows = (
            spark.read.format("iceberg")
            .load(f"{self.identifier}.snapshots")
            .orderBy("committed_at", ascending=False)
            .limit(1)
            .collect()
        )
        return str(rows[0]["snapshot_id"]) if rows else None

    def read_as_of(
        self, spark: SparkSession, snapshot_id: str
    ) -> DataFrame:
        """Time-travel read via Iceberg's snapshot-id scan option
        (``VERSION AS OF``)."""
        return (
            spark.read.format("iceberg")
            .option("snapshot-id", snapshot_id)
            .load(self.identifier)
        )

    def rollback(self, snapshot_id: str) -> str:
        spark = SparkSession.getActiveSession()
        spark.sql(
            "CALL system.rollback_to_snapshot"
            f"('{self.identifier}', {snapshot_id})"
        )
        return snapshot_id

    def history(self) -> list[dict]:
        spark = SparkSession.getActiveSession()
        return [
            r.asDict()
            for r in spark.read.format("iceberg")
            .load(f"{self.identifier}.snapshots")
            .orderBy("committed_at", ascending=False)
            .collect()
        ]

    def compact(
        self, spark: SparkSession, target_file_mb: int = 128
    ) -> dict:
        """Bin-pack small data files via Iceberg's maintenance
        procedure (``rewrite_data_files``); pure rewrite, snapshot
        history preserved."""
        rows = spark.sql(
            "CALL system.rewrite_data_files(table => "
            f"'{self.identifier}', options => map("
            "'target-file-size-bytes', "
            f"'{target_file_mb * 1024 * 1024}'))"
        ).collect()
        d = rows[0].asDict() if rows else {}
        return {
            "before_files": d.get("rewritten_data_files_count"),
            "after_files": d.get("added_data_files_count"),
            "bytes": d.get("rewritten_bytes_count"),
            "compacted": bool(d.get("rewritten_data_files_count")),
        }

    def append(self, data: "DataFrame | pa.Table") -> str | None:
        """``INSERT INTO``.  A ``pyarrow.Table`` becomes a DataFrame
        through ``createDataFrame``: a local relation built with Arrow,
        no Python worker."""
        if not isinstance(data, DataFrame):
            data = SparkSession.active().createDataFrame(data)
        data.writeTo(self.identifier).append()
        return self.snapshot_id()

    def overwrite(self, df: DataFrame) -> str | None:
        # Iceberg resolves the scan snapshot lazily, so a plan derived
        # from read() of THIS table would re-read the post-replace
        # state at action time (ADVICE r2: the enforce_retention stale-
        # read hazard).  Materialize the replacement content first.
        df = df.transform(truncate_lineage)
        df.writeTo(self.identifier).replace()
        return self.snapshot_id()

    def overwrite_partitions(
        self,
        df: DataFrame,
        partition_col: str = "partition_id",
        partitions: "list | None" = None,
        since=None,
    ) -> str | None:
        """VALUE-KEYED dynamic overwrite: replace exactly the rows
        whose ``partition_col`` is in ``partitions`` (default: the
        values present in ``df``) and, when ``since`` is given, whose
        ``bucket_ts >= since``, with ``df``'s rows, via Iceberg's
        condition-based ``overwrite`` — NOT ``overwritePartitions``,
        which keys on the table's own partition SPEC and would replace
        the whole table when the spec doesn't match ``partition_col``
        (e.g. an unpartitioned tier table).  On a table that IS
        partitioned by ``partition_col`` the condition prunes to a
        metadata-level partition replacement.  Passing ``partitions``
        explicitly with an empty ``df`` clears those partitions.  The
        input is materialized first (localCheckpoint) so self-derived
        plans cannot re-read the overwritten table (same hazard as
        above); only the replacement rows are materialized, never the
        whole table."""
        df = df.transform(truncate_lineage)
        if partitions is None:
            partitions = [
                r[0] for r in df.select(partition_col).distinct().collect()
            ]
        df.writeTo(self.identifier).overwrite(
            replace_condition(partition_col, partitions, since)
        )
        return self.snapshot_id()
