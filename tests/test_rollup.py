"""Rollup + gap-fill correctness vs a pandas oracle, and plan-shape checks."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tsaug_spark.plans.gapfill import (
    complete_grid,
    fill_bfill,
    fill_const,
    fill_interpolate,
    fill_locf,
    fill_locf_ttl,
    fill_mean,
)
from tsaug_spark.plans.rollup import (
    add_bucket_idx,
    cascade,
    reaggregate,
    rollup_transcripts,
)
from tsaug_spark.plans.skew import plan_salts, rollup_salted


def _pandas_rollup(pdf: pd.DataFrame, seconds: int) -> pd.DataFrame:
    pdf = pdf.copy()
    epoch = pdf["ts"].astype("int64") // 10 ** 9
    pdf["bucket"] = (epoch // seconds) * seconds
    g = pdf.groupby(["conv_id", "bucket"])
    out = g.agg(
        turn_rate=("turn_idx", "size"),
        tool_usage=("tool", "count"),
        text_len=("text", lambda s: s.str.len().sum()),
    ).reset_index()
    return out.sort_values(["conv_id", "bucket"]).reset_index(drop=True)


@pytest.mark.parametrize("tier,seconds", [("1m", 60), ("1h", 3600)])
def test_rollup_matches_pandas(transcripts, tier, seconds):
    got = (
        rollup_transcripts(transcripts, tier)
        .withColumn("bucket", F.unix_timestamp("bucket_ts"))
        .select("conv_id", "bucket", "turn_rate", "tool_usage", "text_len")
        .toPandas()
        .sort_values(["conv_id", "bucket"])
        .reset_index(drop=True)
    )
    want = _pandas_rollup(transcripts.toPandas(), seconds)
    pd.testing.assert_frame_equal(
        got.astype({"turn_rate": "int64", "tool_usage": "int64",
                    "text_len": "int64"}),
        want.astype({"turn_rate": "int64", "tool_usage": "int64",
                     "text_len": "int64"}),
    )


def test_cascade_is_exact_reaggregation(transcripts):
    tiers = cascade(transcripts)
    # 1h from 1m must equal 1h from raw
    via_1m = (
        tiers["1h"].orderBy("conv_id", "bucket_ts").toPandas()
    )
    direct = (
        rollup_transcripts(transcripts, "1h")
        .orderBy("conv_id", "bucket_ts")
        .toPandas()
    )
    pd.testing.assert_frame_equal(
        via_1m.astype({"turn_rate": "int64"}),
        direct.astype({"turn_rate": "int64"}),
        check_dtype=False,
    )
    # totals conserved through every tier
    raw_turns = transcripts.count()
    for name, df in tiers.items():
        assert (
            df.agg(F.sum("turn_rate")).collect()[0][0] == raw_turns
        ), name


def test_salted_rollup_equals_plain(transcripts):
    plain = (
        rollup_transcripts(transcripts, "1m")
        .orderBy("conv_id", "bucket_ts")
        .toPandas()
    )
    salted = (
        rollup_salted(transcripts, "1m", n_salts=8)
        .select("conv_id", "bucket_ts", "turn_rate", "tool_usage", "text_len")
        .orderBy("conv_id", "bucket_ts")
        .toPandas()
    )
    pd.testing.assert_frame_equal(plain, salted, check_dtype=False)


def test_plan_salts_detects_hot_conversations(transcripts):
    assert plan_salts(transcripts, target_rows_per_task=100) > 1
    assert plan_salts(transcripts, target_rows_per_task=10 ** 9) == 1


def test_complete_grid_and_fills(spark):
    rows = [
        ("c1", "2026-01-01 00:00:00", 2.0),
        ("c1", "2026-01-01 00:03:00", 8.0),  # two missing buckets between
        ("c1", "2026-01-01 00:04:00", 4.0),
        ("c2", "2026-01-01 10:00:00", 1.0),
    ]
    df = spark.createDataFrame(
        rows, ["conv_id", "bucket_ts_s", "turn_rate"]
    ).select(
        "conv_id",
        F.to_timestamp("bucket_ts_s").alias("bucket_ts"),
        "turn_rate",
    )
    grid = complete_grid(df, "1m").cache()
    assert grid.count() == 5 + 1  # c1: 00:00..00:04 inclusive; c2: one
    assert grid.filter("is_gap").count() == 2

    def col_for(fn, *args):
        out = fn(grid, ["turn_rate"], *args) if args else fn(
            grid, ["turn_rate"]
        )
        pdf = (
            out.filter("conv_id = 'c1'")
            .orderBy("bucket_ts")
            .toPandas()["turn_rate"]
        )
        return list(pdf)

    assert col_for(fill_locf) == [2.0, 2.0, 2.0, 8.0, 4.0]
    assert col_for(fill_bfill) == [2.0, 8.0, 8.0, 8.0, 4.0]
    interp = col_for(fill_interpolate)
    assert interp == [2.0, 4.0, 6.0, 8.0, 4.0]
    mean_fill = col_for(fill_mean)
    expected_mean = (2.0 + 8.0 + 4.0) / 3
    assert mean_fill[1] == pytest.approx(expected_mean)
    assert col_for(fill_const, -1.0)[1] == -1.0


def test_fill_locf_ttl_staleness(spark):
    # c1 observes at 00:00 and 00:05; with a 2-minute TTL the 00:01 and
    # 00:02 gaps are carried, 00:03 / 00:04 are stale (NULL); an
    # observation itself is always fresh (age 0)
    rows = [
        ("c1", "2026-01-01 00:00:00", 2.0),
        ("c1", "2026-01-01 00:05:00", 9.0),
    ]
    df = spark.createDataFrame(
        rows, ["conv_id", "bucket_ts_s", "turn_rate"]
    ).select(
        "conv_id",
        F.to_timestamp("bucket_ts_s").alias("bucket_ts"),
        "turn_rate",
    )
    grid = complete_grid(df, "1m")
    out = (
        fill_locf_ttl(grid, ["turn_rate"], ttl_seconds=120)
        .orderBy("bucket_ts")
        .toPandas()["turn_rate"]
    )
    assert list(out[:3]) == [2.0, 2.0, 2.0]
    assert out[3:5].isna().all()
    assert out[5] == 9.0
    # TTL large enough degenerates to plain locf
    full = (
        fill_locf_ttl(grid, ["turn_rate"], ttl_seconds=3600)
        .orderBy("bucket_ts")
        .toPandas()["turn_rate"]
    )
    assert list(full) == [2.0, 2.0, 2.0, 2.0, 2.0, 9.0]


def test_bucket_idx_dense(transcripts):
    from pyspark.sql.window import Window

    t = add_bucket_idx(rollup_transcripts(transcripts, "1m"), "1m")
    t = t.withColumn(
        "expect_idx",
        (
            (
                F.unix_timestamp("bucket_ts")
                - F.min(F.unix_timestamp("bucket_ts")).over(
                    Window.partitionBy("conv_id")
                )
            )
            / 60
        ).cast("int"),
    )
    bad = t.filter(
        (F.col("bucket_idx") < 0)
        | (F.col("bucket_idx") != F.col("expect_idx"))
    )
    assert bad.count() == 0


def test_rollup_plan_prunes_and_partial_aggregates(transcripts):
    plan = rollup_transcripts(transcripts, "1m")._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan
    # two HashAggregate nodes = partial + final (map-side combine present)
    assert plan.count("HashAggregate") >= 2


def test_reaggregate_calendar_month_boundaries(spark):
    from tsaug_spark.plans.rollup import reaggregate_calendar

    # daily buckets straddling a month boundary: Jan 30, Jan 31, Feb 1
    rows = [
        ("c1", "2026-01-30 00:00:00", 1, 1, 10),
        ("c1", "2026-01-31 00:00:00", 2, 0, 20),
        ("c1", "2026-02-01 00:00:00", 4, 1, 40),
    ]
    df = spark.createDataFrame(
        rows, ["conv_id", "b", "turn_rate", "tool_usage", "text_len"]
    ).select(
        "conv_id", F.to_timestamp("b").alias("bucket_ts"),
        "turn_rate", "tool_usage", "text_len",
    )
    out = {
        str(r["bucket_ts"]): (r["turn_rate"], r["tool_usage"], r["text_len"])
        for r in reaggregate_calendar(df, "month").collect()
    }
    assert out == {
        "2026-01-01 00:00:00": (3, 1, 30),
        "2026-02-01 00:00:00": (4, 1, 40),
    }
    import pytest as _pytest

    with _pytest.raises(ValueError):
        reaggregate_calendar(df, "fortnight")


def test_bucket_start_floors_pre_1970_like_bucket_epoch_s(spark):
    """A 1969 turn lands in the same bucket on both bucketing paths:
    ``bucket_start`` floors, as ``bucket_epoch_s`` does, instead of
    truncating toward the epoch."""
    from tsaug_spark.plans.rollup import TIERS, bucket_epoch_s, bucket_start

    df = spark.createDataFrame(
        [("1969-12-31 23:59:30",), ("1969-12-30 11:00:01",),
         ("1970-01-01 00:00:30",)],
        "s string",
    ).select(F.to_timestamp("s").alias("ts"))
    for tier in TIERS:
        got = df.select(
            F.unix_timestamp(bucket_start(F.col("ts"), tier)).alias("a"),
            bucket_epoch_s("ts", tier),
        ).collect()
        assert all(r["a"] == r["bucket_s"] for r in got), (tier, got)
        assert all(r["a"] < 0 for r in got[:2])
