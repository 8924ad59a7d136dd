"""Tumbling-window rollups and the 1m -> 1h -> 1d continuous-aggregate
cascade.

The per-conversation channels rolled up from raw transcripts are the
engine's three metric channels (SURVEY.md §1.2):

* ``turn_rate``  — turns per bucket (count);
* ``tool_usage`` — turns with a non-null tool per bucket (count);
* ``text_len``   — total text length per bucket (sum of length(text)).

All three are sum-reaggregable, which is what makes the tier cascade a
*continuous aggregate*: the 1h tier is an exact re-aggregation of the 1m
tier (and 1d of 1h) — no second pass over raw data.  Catalyst executes
each rollup as a partial (map-side) + final hash aggregate; AQE coalesces
the post-shuffle partitions.

Scale notes (100 TB / 10^12 turns): the only shuffle is the groupBy on
``(conv_id, bucket)`` whose cardinality is ~(convs x active buckets) —
far smaller than the input; the map-side partial agg means hot
conversations do NOT skew the shuffle for these algebraic aggregates
(each map task emits one row per (conv, bucket)).  Salting
(plans/skew.py) is reserved for the non-algebraic paths.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: tier name -> (window duration string, seconds)
TIERS: dict[str, tuple[str, int]] = {
    "1m": ("1 minute", 60),
    "1h": ("1 hour", 3600),
    "1d": ("1 day", 86400),
}

#: the cascade order raw -> 1m -> 1h -> 1d
TIER_ORDER = ["1m", "1h", "1d"]

METRIC_COLS = ["turn_rate", "tool_usage", "text_len"]


def bucket_start(ts: Column, tier: str) -> Column:
    """Floor a timestamp to its tier bucket start (floor, like
    ``bucket_epoch_s``, so a pre-1970 turn lands in the same bucket on
    both paths)."""
    seconds = TIERS[tier][1]
    return F.timestamp_seconds(
        F.floor(F.unix_timestamp(ts) / seconds) * seconds
    )


def bucket_epoch_s(ts_col: str, tier: str) -> Column:
    """Tier bucket start as epoch seconds (BIGINT) — floor, not
    cast-truncation, so pre-epoch timestamps bucket consistently with
    the DuckDB oracles' floor(epoch(ts)/sec).  Shared by rollup_events
    and plans/metrics.py."""
    seconds = TIERS[tier][1]
    return (
        F.floor(F.unix_timestamp(F.col(ts_col)) / seconds) * seconds
    ).cast("long").alias("bucket_s")


def rollup_transcripts(df: DataFrame, tier: str = "1m") -> DataFrame:
    """Roll raw transcripts up to one row per (conv_id, bucket).

    Output: conv_id, bucket_ts, turn_rate, tool_usage, text_len.
    Projection happens before the aggregate so the parquet scan reads
    only (conv_id, tool, text, ts) — column pruning does the rest.
    """
    return (
        df.select(
            "conv_id",
            bucket_start(F.col("ts"), tier).alias("bucket_ts"),
            F.col("tool"),
            F.length("text").alias("text_chars"),
        )
        .groupBy("conv_id", "bucket_ts")
        .agg(
            F.count(F.lit(1)).alias("turn_rate"),
            F.count("tool").alias("tool_usage"),
            F.coalesce(F.sum("text_chars"), F.lit(0)).alias("text_len"),
        )
    )


def rollup_events(
    df: DataFrame,
    tier: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Generic tumbling rollup for any (key, ts, value) event stream.

    Output: key, bucket_s (epoch seconds, BIGINT — join/oracle friendly),
    cnt, sum_value, min_value, max_value.  Same partial+final hash-agg
    plan shape as the transcript rollup.
    """
    return (
        df.select(
            F.col(key_col),
            bucket_epoch_s(ts_col, tier),
            F.col(value_col),
        )
        .groupBy(key_col, "bucket_s")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(value_col).alias("sum_value"),
            F.min(value_col).alias("min_value"),
            F.max(value_col).alias("max_value"),
        )
    )


def reaggregate(df_tier: DataFrame, from_tier: str, to_tier: str) -> DataFrame:
    """Continuous aggregate: re-roll a finer tier into a coarser one.

    Exact because every metric is a sum/count (algebraic).  This is the
    1m -> 1h and 1h -> 1d edge of the cascade.
    """
    if TIERS[to_tier][1] % TIERS[from_tier][1]:
        raise ValueError(f"{to_tier} is not a multiple of {from_tier}")
    return (
        df_tier.groupBy(
            "conv_id",
            bucket_start(F.col("bucket_ts"), to_tier).alias("bucket_ts"),
        )
        .agg(*[F.sum(c).alias(c) for c in METRIC_COLS])
    )


_CALENDAR_UNITS = ("week", "month", "quarter", "year")


def reaggregate_calendar(df_tier: DataFrame, unit: str = "month") -> DataFrame:
    """Calendar continuous aggregate: re-roll a fixed-width tier into
    VARIABLE-width calendar buckets (week / month / quarter / year)
    via ``date_trunc`` — the tier family fixed-second arithmetic can't
    express (months are 28-31 days).

    Exact for any day-divisible source tier: under the engine's pinned
    UTC session every 1m/1h/1d bucket nests entirely inside one
    calendar unit, so the algebraic sums re-roll losslessly.  Same
    single hash-aggregate shape as :func:`reaggregate`.
    """
    if unit not in _CALENDAR_UNITS:
        raise ValueError(f"unit must be one of {_CALENDAR_UNITS}")
    return (
        df_tier.groupBy(
            "conv_id",
            F.date_trunc(unit, F.col("bucket_ts")).alias("bucket_ts"),
        )
        .agg(*[F.sum(c).alias(c) for c in METRIC_COLS])
    )


def cascade(df_raw: DataFrame) -> dict[str, DataFrame]:
    """Build all three tier DataFrames (lazy; share the 1m scan)."""
    tiers: dict[str, DataFrame] = {}
    tiers["1m"] = rollup_transcripts(df_raw, "1m")
    tiers["1h"] = reaggregate(tiers["1m"], "1m", "1h")
    tiers["1d"] = reaggregate(tiers["1h"], "1h", "1d")
    return tiers


def add_bucket_idx(df_tier: DataFrame, tier: str) -> DataFrame:
    """Attach the per-conversation dense bucket ordinal.

    ``bucket_idx = (bucket_ts - first_bucket_ts) / tier_width`` — the
    positional time axis the series kernels operate on.  Uses a window
    min rather than a join; the partition key matches the rollup's
    grouping key so no extra shuffle is introduced when chained.
    """
    from pyspark.sql import Window

    seconds = TIERS[tier][1]
    w = Window.partitionBy("conv_id")
    return df_tier.withColumn(
        "bucket_idx",
        (
            (
                F.unix_timestamp("bucket_ts")
                - F.unix_timestamp(F.min("bucket_ts").over(w))
            )
            / seconds
        ).cast("int"),
    )
