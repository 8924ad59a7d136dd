"""Iceberg-semantics test double for the checkpoint layer.

The sandbox has no Iceberg runtime jars (SURVEY.md §7.4 R4), so the
``IcebergTable`` wrapper in tsaug_spark.sources.tables cannot be run
directly.  What CAN be tested is the property that matters: the
checkpoint layer's commit logic must stay correct when the backend has
Iceberg's storage semantics rather than ParquetSnapshotTable's —

* ONE mutable storage location (no fresh ``data/<snapshot>/`` dir per
  commit): a replace rewrites files in place, so any lazy plan built
  from a pre-replace ``read()`` breaks (FileNotFoundException) or reads
  post-replace state at action time.  This is the stale-lazy-read
  hazard ADVICE r2 flagged for ``enforce_retention``/``update``.
* ``overwritePartitions`` replaces only the partitions present in the
  input (dynamic partition overwrite), leaving others untouched.
* A monotonically advancing snapshot id per commit, queryable for
  lineage.

``InPlaceLazyTable`` implements exactly those semantics over a single
parquet directory, with the same materialize-input-first discipline the
real ``IcebergTable`` wrapper applies (``localCheckpoint`` before the
replace — see tables.py).  Every catalog-level call is recorded in
``catalog_log`` so tests can assert WHICH commit path ran (e.g. the
cascade re-run must go through ``overwritePartitions``, not a full
``replace``).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tsaug_spark.sources.tables import replace_condition

if TYPE_CHECKING:
    import pyarrow as pa


class InPlaceLazyTable:
    """Test double matching IcebergTable's contract + storage semantics."""

    def __init__(self, path: str):
        self.path = path

    # ------------------------------------------------------- metadata
    @property
    def _data(self) -> str:
        return os.path.join(self.path, "data")

    @property
    def _meta(self) -> str:
        return os.path.join(self.path, "_catalog.json")

    def _load_meta(self) -> dict:
        try:
            with open(self._meta) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return {"snapshot": 0, "log": []}

    def _commit_meta(self, op: str) -> str:
        meta = self._load_meta()
        meta["snapshot"] += 1
        meta["log"].append({"op": op, "snapshot_id": meta["snapshot"]})
        os.makedirs(self.path, exist_ok=True)
        with open(self._meta, "w") as fh:
            json.dump(meta, fh)
        return str(meta["snapshot"])

    @property
    def catalog_log(self) -> list[dict]:
        return self._load_meta()["log"]

    def exists(self) -> bool:
        return os.path.isdir(self._data)

    def snapshot_id(self) -> str | None:
        meta = self._load_meta()
        return str(meta["snapshot"]) if meta["snapshot"] else None

    # ----------------------------------------------------------- read
    def read(
        self,
        spark: SparkSession,
        partitions: "list | None" = None,
        since=None,
    ) -> DataFrame:
        """Lazy read over the CURRENT (mutable) data location.

        Like an Iceberg scan, the plan resolves against table state; a
        replace between plan construction and action invalidates it —
        callers must materialize before overwriting, which is exactly
        the discipline under test.  ``partitions``/``since`` filter to
        the rows ``overwrite_partitions`` would replace.
        """
        if not self.exists():
            raise FileNotFoundError(f"no table at {self.path}")
        spark.catalog.refreshByPath(self._data)
        df = spark.read.parquet(self._data)
        if partitions is None:
            return df
        return df.filter(replace_condition("partition_id", partitions, since))

    # --------------------------------------------------------- writes
    def _replace_dir(self, df: DataFrame) -> None:
        """In-place swap of the single data location (the double's
        stand-in for Iceberg's rewrite-manifest commit).  ``df`` MUST
        already be materialized by the caller — after the swap any
        plan over the old files is dead."""
        spark = df.sparkSession
        tmp = os.path.join(self.path, f"_stage_{uuid.uuid4().hex[:8]}")
        df.write.mode("errorifexists").parquet(tmp)
        if os.path.isdir(self._data):
            shutil.rmtree(self._data)
        os.replace(tmp, self._data)
        spark.catalog.refreshByPath(self._data)

    def append(self, df: "DataFrame | pa.Table") -> str:
        """Like ``IcebergTable.append``: a ``pyarrow.Table`` (the
        manifest rows RollupJob commits) becomes a DataFrame through
        ``createDataFrame``, an Arrow-built local relation."""
        if not isinstance(df, DataFrame):
            df = SparkSession.active().createDataFrame(df)
        os.makedirs(self.path, exist_ok=True)
        df.write.mode("append").parquet(self._data)
        df.sparkSession.catalog.refreshByPath(self._data)
        return self._commit_meta("append")

    def overwrite(self, df: DataFrame) -> str:
        # same guard as IcebergTable.overwrite: materialize the
        # replacement BEFORE touching storage, so self-derived plans
        # are computed from pre-replace state
        df = df.localCheckpoint(eager=True)
        self._replace_dir(df)
        return self._commit_meta("replace")

    def overwrite_partitions(
        self,
        df: DataFrame,
        partition_col: str = "partition_id",
        partitions: "list | None" = None,
        since=None,
    ) -> str:
        """Value-keyed dynamic overwrite (same contract as
        IcebergTable's condition-based ``overwrite``): only rows whose
        ``partition_col`` is in ``partitions`` (default: values present
        in ``df``) and, given ``since``, whose ``bucket_ts >= since``
        are replaced; kept rows are carried over untouched.  Explicit
        ``partitions`` + empty ``df`` clears them."""
        df = df.localCheckpoint(eager=True)
        if not self.exists():
            self._replace_dir(df)
            return self._commit_meta("overwritePartitions")
        if partitions is None:
            partitions = [
                r[0]
                for r in df.select(partition_col).distinct().collect()
            ]
        kept = (
            self.read(df.sparkSession)
            .filter(
                ~F.coalesce(
                    replace_condition(partition_col, partitions, since),
                    F.lit(False),
                )
            )
            .localCheckpoint(eager=True)
        )
        self._replace_dir(
            kept.unionByName(df, allowMissingColumns=True)
        )
        return self._commit_meta("overwritePartitions")
