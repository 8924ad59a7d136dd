"""Chunk-column integration: tier rows <-> Gorilla-compressed chunks.

A *chunk row* packs one conversation's whole tier series into opaque
``binary`` columns — delta-of-delta timestamps + one Gorilla value chunk
per metric channel — the storage layout of the retention tiers.  Encoding
and decoding both run over raw Arrow batches (NumPy bit-packing — no
per-row Python and no pandas materialization; conv_id strings move via
Arrow ``take`` without ever becoming Python objects).

There is one decoder, ``decode_chunks``.  Spark callers (the query
registry, perfbench's chunk checks, tests) reach it through
``decompress_tier``/``decompress_tier_range``, a ``mapInArrow`` job;
the dashboard read ``RollupJob.query_series`` calls it on the driver
over the chunk rows ``read_arrow`` fetched, with no Spark job.

Scale: chunk size is bounded by tier width (see plans/pack.py) and the
chunk table is ~1000x smaller than the long tier, so downstream joins on
it broadcast.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, List, Sequence

import numpy as np
from pyspark.sql import DataFrame

from .gorilla import decode_timestamps, decode_values

if TYPE_CHECKING:
    import pyarrow as pa
    from pyspark.sql import Column


def compress_tier(
    df_tier: DataFrame,
    value_cols: Sequence[str],
    ts_col: str = "bucket_ts",
    window_s: "int | None" = None,
) -> DataFrame:
    """Compress a long tier DataFrame into chunk rows.

    Output: conv_id, n_points, bytes_raw, bytes_compressed, zone-map
    columns (ts_min/ts_max and per-channel min/max — the chunk
    exclusion metadata ``decompress_tier_range`` prunes on), ts_chunk,
    and a ``<col>_chunk`` binary per metric channel.

    With ``window_s=None`` (default) a chunk row is one conversation's
    whole tier series.  With ``window_s`` set (e.g. 86400), chunks
    split additionally on ``floor(epoch/window_s)`` boundaries — the
    hypertable time-chunking that makes the ts zone map decisive for
    range reads: a chunk then covers at most one window, so a
    [lo, hi] read decodes only ~(hi-lo)/window_s chunks per
    conversation instead of every conversation's full history.

    Implementation: repartition + sortWithinPartitions co-locates and
    orders each conversation, then ``mapInArrow`` streams raw Arrow
    batches through the *grouped* Gorilla encoders — one vectorized
    bit-assembly pass per batch instead of per conversation (tier
    chunks are small, so per-group overhead would dominate).  A
    carry-over buffer stitches conversations that span batch
    boundaries.
    """
    value_cols = list(value_cols)
    schema = (
        "conv_id string, n_points long, bytes_raw long, "
        "bytes_compressed long, "
        "ts_min timestamp, ts_max timestamp, "
        + ", ".join(
            f"{c}_min double, {c}_max double" for c in value_cols
        )
        + ", ts_chunk binary, "
        + ", ".join(f"{c}_chunk binary" for c in value_cols)
    )
    from .gorilla import encode_timestamps_grouped, encode_values_grouped

    out_cols = (
        ["conv_id", "n_points", "bytes_raw", "bytes_compressed",
         "ts_min", "ts_max"]
        + [f"{c}_{m}" for c in value_cols for m in ("min", "max")]
        + ["ts_chunk"]
        + [f"{c}_chunk" for c in value_cols]
    )

    import pyarrow as pa
    import pyarrow.compute as pc

    def encode_block(tbl: "pa.Table") -> "pa.RecordBatch":
        conv = tbl.column("conv_id").combine_chunks()
        n = tbl.num_rows
        ts = (
            tbl.column(ts_col)
            .combine_chunks()
            .cast(pa.int64())
            .to_numpy(zero_copy_only=False)
            // 10 ** 6  # arrow timestamps are microseconds
        )
        # sorted input: boundaries are a linear Arrow-side comparison
        # (the pandas formulation paid np.unique over object strings);
        # with time windows, a window flip inside a conversation also
        # starts a new chunk
        if n > 1:
            neq = pc.not_equal(
                conv.slice(1), conv.slice(0, n - 1)
            ).to_numpy(zero_copy_only=False)
            if window_s:
                win = ts // window_s
                neq = neq | (win[1:] != win[:-1])
            starts = np.concatenate([[0], np.flatnonzero(neq) + 1])
        else:
            starts = np.array([0], dtype=np.int64)
        lengths = np.diff(np.append(starts, n))
        ts_chunks = encode_timestamps_grouped(ts, lengths)
        total = np.array([len(c) for c in ts_chunks], dtype=np.int64)
        ends = starts + lengths - 1
        arrays = {
            "conv_id": pc.take(conv, pa.array(starts, type=pa.int64())),
            "n_points": pa.array(lengths.astype(np.int64)),
            "bytes_raw": pa.array(
                (lengths * 8 * (1 + len(value_cols))).astype(np.int64)
            ),
            "ts_chunk": pa.array(ts_chunks, type=pa.binary()),
            # zone maps for chunk exclusion: input is sorted by
            # (conv_id, ts), so a chunk's ts range is its first/last
            # element; value bounds are one segmented fmin/fmax pass
            "ts_min": pa.array(ts[starts] * 10 ** 6).cast(
                pa.timestamp("us")
            ),
            "ts_max": pa.array(ts[ends] * 10 ** 6).cast(
                pa.timestamp("us")
            ),
        }
        for c in value_cols:
            vals = (
                tbl.column(c)
                .combine_chunks()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64, copy=False)
            )
            arrays[f"{c}_min"] = pa.array(
                np.fmin.reduceat(vals, starts)
            )
            arrays[f"{c}_max"] = pa.array(
                np.fmax.reduceat(vals, starts)
            )
            chunks = encode_values_grouped(vals, lengths)
            arrays[f"{c}_chunk"] = pa.array(chunks, type=pa.binary())
            total = total + np.array([len(x) for x in chunks])
        arrays["bytes_compressed"] = pa.array(total)
        return pa.RecordBatch.from_arrays(
            [arrays[c] for c in out_cols], names=out_cols
        )

    def encode_stream(batches):
        held: "pa.Table | None" = None
        for rb in batches:
            t = pa.Table.from_batches([rb])
            buf = (
                t
                if held is None or held.num_rows == 0
                else pa.concat_tables([held, t]).combine_chunks()
            )
            n = buf.num_rows
            if n == 0:
                held = None
                continue
            # hold back the (possibly incomplete) trailing conversation
            conv = buf.column("conv_id").combine_chunks()
            if n > 1:
                neq = pc.not_equal(
                    conv.slice(1), conv.slice(0, n - 1)
                ).to_numpy(zero_copy_only=False)
                bounds = np.flatnonzero(neq) + 1
                cut = int(bounds[-1]) if len(bounds) else 0
            else:
                cut = 0
            if cut > 0:
                yield encode_block(buf.slice(0, cut))
            held = buf.slice(cut)
        if held is not None and held.num_rows:
            yield encode_block(held)

    # pin the exchange's partition count (see plans/pack.py: AQE would
    # coalesce a bare repartition("conv_id") to 1-2 partitions at this
    # shuffle size, serializing the encoders onto one Python worker)
    n_part = int(
        df_tier.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    prepared = (
        df_tier.select("conv_id", ts_col, *value_cols)
        .repartition(n_part, "conv_id")
        .sortWithinPartitions("conv_id", ts_col)
    )
    return prepared.mapInArrow(encode_stream, schema)


def decode_chunks(chunks, value_cols: Sequence[str]) -> "pa.RecordBatch":
    """Gorilla-decode chunk rows into long tier rows.

    ``chunks`` is a ``pyarrow.Table`` or ``RecordBatch`` holding
    ``conv_id``, ``ts_chunk`` and a ``<col>_chunk`` per ``value_cols``
    channel; the result is one batch of (conv_id, bucket_ts, *value_cols)
    with ``bucket_ts`` a tz-naive microsecond timestamp (UTC epoch).  One
    decoder call per chunk row, then one concatenated output — the conv
    strings fan out via Arrow ``take``, never via Python.  The Spark read
    (``decompress_tier``, once per ``mapInArrow`` batch) and the driver
    read (``RollupJob.query_series``) both decode through here.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    value_cols = list(value_cols)
    if isinstance(chunks, pa.RecordBatch):
        chunks = pa.Table.from_batches([chunks])
    n = chunks.num_rows
    conv = chunks.column("conv_id").combine_chunks()
    ts_col_a = chunks.column("ts_chunk").combine_chunks()
    val_cols_a = [
        chunks.column(f"{c}_chunk").combine_chunks() for c in value_cols
    ]
    ts_parts: List[np.ndarray] = [np.empty(0, dtype=np.int64)]
    val_parts: List[List[np.ndarray]] = [
        [np.empty(0, dtype=np.float64)] for _ in value_cols
    ]
    lens = np.empty(n, dtype=np.int64)
    for i in range(n):
        ts = decode_timestamps(ts_col_a[i].as_py())
        ts_parts.append(ts)
        lens[i] = len(ts)
        for k in range(len(value_cols)):
            val_parts[k].append(decode_values(val_cols_a[k][i].as_py()))
    idx = np.repeat(np.arange(n, dtype=np.int64), lens)
    arrays = [
        pc.take(conv, pa.array(idx)),
        pa.array(
            np.concatenate(ts_parts).astype(np.int64) * 10 ** 6,
            type=pa.int64(),
        ).cast(pa.timestamp("us")),
        *[pa.array(np.concatenate(parts)) for parts in val_parts],
    ]
    return pa.RecordBatch.from_arrays(
        arrays, names=["conv_id", "bucket_ts", *value_cols]
    )


def decompress_tier(
    df_chunks: DataFrame, value_cols: Sequence[str]
) -> DataFrame:
    """Expand chunk rows back into the long tier layout, in a Spark job
    (``mapInArrow`` over ``decode_chunks``)."""
    value_cols = list(value_cols)
    schema = (
        "conv_id string, bucket_ts timestamp, "
        + ", ".join(f"{c} double" for c in value_cols)
    )

    def decode_rows(batches):
        for rb in batches:
            if rb.num_rows:
                yield decode_chunks(rb, value_cols)

    return df_chunks.mapInArrow(decode_rows, schema)


def zone_map_overlaps(ts_lo=None, ts_hi=None) -> "Column":
    """Chunk rows whose zone map [``ts_min``, ``ts_max``] overlaps
    [``ts_lo``, ``ts_hi``] (timestamp Columns, inclusive; None leaves
    that side open), as a Spark condition.  NULL zone maps (chunk rows
    written before the zone-map columns existed, preserved by
    allowMissingColumns appends) overlap everything: they are
    MUST-DECODE, never silently excluded."""
    from pyspark.sql import functions as F

    cond = F.lit(True)
    if ts_lo is not None:
        cond = cond & (F.col("ts_max").isNull() | (F.col("ts_max") >= ts_lo))
    if ts_hi is not None:
        cond = cond & (F.col("ts_min").isNull() | (F.col("ts_min") <= ts_hi))
    return cond


def decompress_tier_range(
    df_chunks: DataFrame,
    value_cols: Sequence[str],
    ts_lo=None,
    ts_hi=None,
):
    """Chunk-exclusion read as a Spark job: decode only the chunks whose
    zone map overlaps [``ts_lo``, ``ts_hi``] (inclusive).  The Spark-side
    callers (registry queries, tests) use it; the dashboard read
    ``RollupJob.query_series`` applies the same rule on the driver
    (``read_arrow`` + ``decode_chunks``).

    The [ts_min, ts_max] predicate is a plain Catalyst filter on the
    chunk scan — with a parquet-backed chunk table it pushes into the
    reader (`PushedFilters`), so excluded chunks' binary columns are
    never materialized, let alone decoded.  This is the classic
    time-series chunk-exclusion pattern: the expensive step (the
    Gorilla decode UDF) sees only surviving chunk rows, and the exact
    row-level filter afterwards trims the partial chunks at the range
    edges.
    """
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    def lit(x):
        return x if isinstance(x, Column) else F.lit(x)

    lo = None if ts_lo is None else lit(ts_lo)
    hi = None if ts_hi is None else lit(ts_hi)
    out = decompress_tier(df_chunks.filter(zone_map_overlaps(lo, hi)),
                          value_cols)
    if lo is not None:
        out = out.filter(F.col("bucket_ts") >= lo)
    if hi is not None:
        out = out.filter(F.col("bucket_ts") <= hi)
    return out
