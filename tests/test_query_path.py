"""query_series: tier picking by point budget, chunk-exclusion range
read, M4 fallback when even the coarsest tier overflows the budget.

The read is answered on the driver (``read_arrow`` + ``decode_chunks`` +
NumPy M4).  The parity cases pin it to the Spark formulation it
replaced (``decompress_tier_range`` plus a ``groupBy`` M4) on both
table backends: same schema, same row multiset.  Each backend's store
is built once per module; tests only read it, or read a copy."""

from __future__ import annotations

import math
import shutil
import uuid
from collections import Counter

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from tests.iceberg_double import InPlaceLazyTable
from tsaug_spark.codec.chunks import decompress_tier_range
from tsaug_spark.plans.rollup import METRIC_COLS, TIER_ORDER, TIERS
from tsaug_spark.sources.checkpoint import M4_SCHEMA, RollupJob, _m4
from tsaug_spark.sources.tables import ParquetSnapshotTable

BACKENDS = {
    "parquet_snapshot": ParquetSnapshotTable,
    "iceberg_semantics": InPlaceLazyTable,
}


def _build(spark, transcripts, path, table_cls):
    job = RollupJob(
        spark, str(path), n_partitions=2, source_snapshot="s1",
        table_cls=table_cls,
    )
    job.run(transcripts, "1m")
    job.cascade_tier("1m", "1h")
    job.cascade_tier("1h", "1d")
    return job


@pytest.fixture(scope="module")
def stores(spark, transcripts, tmp_path_factory):
    """One store per backend, built on first use."""
    built = {}

    def get(backend):
        if backend not in built:
            built[backend] = _build(
                spark, transcripts, tmp_path_factory.mktemp(backend) / "q",
                BACKENDS[backend],
            )
        return built[backend]

    return get


@pytest.fixture(scope="module")
def span(transcripts):
    return tuple(transcripts.agg(
        F.min(F.unix_timestamp("ts")), F.max(F.unix_timestamp("ts"))
    ).collect()[0])


@pytest.fixture(scope="module")
def early_convs(transcripts, span):
    """Three conversations with turns in the first two hours."""
    return sorted(
        r.conv_id
        for r in transcripts.filter(F.unix_timestamp("ts") <= span[0] + 7200)
        .select("conv_id")
        .distinct()
        .limit(3)
        .collect()
    )


def _spark_answer(job, ts_lo, ts_hi, max_points=500, conv_ids=None,
                  value_col="turn_rate"):
    """The Spark formulation query_series answered with before it ran on
    the driver: chunk-exclusion decode job, then a groupBy M4."""
    span = int(ts_hi) - int(ts_lo)
    chosen = TIER_ORDER[-1]
    for tier in TIER_ORDER:
        if span / TIERS[tier][1] <= max_points:
            chosen = tier
            break
    chunks = job.table(f"tier_{chosen}_chunks").read(job.spark)
    if conv_ids is not None:
        chunks = chunks.filter(F.col("conv_id").isin(list(conv_ids)))
    lo_eff = (int(ts_lo) // TIERS[chosen][1]) * TIERS[chosen][1]
    rows = decompress_tier_range(
        chunks,
        METRIC_COLS,
        ts_lo=F.timestamp_seconds(F.lit(lo_eff)),
        ts_hi=F.timestamp_seconds(F.lit(int(ts_hi))),
    )
    if span / TIERS[chosen][1] <= max_points:
        return rows, chosen, False
    px = max(
        TIERS[chosen][1],
        int(math.ceil(span / max(1, max_points // 4))),
    )
    e = F.unix_timestamp("bucket_ts")
    m4 = (
        rows.withColumn(
            "px_ts",
            F.timestamp_seconds(
                (F.floor(e / F.lit(px)) * F.lit(px)).cast("long")
            ),
        )
        .groupBy("conv_id", "px_ts")
        .agg(
            F.min(value_col).alias("vmin"),
            F.max(value_col).alias("vmax"),
            F.expr(f"min_by({value_col}, bucket_ts)").alias("vfirst"),
            F.expr(f"max_by({value_col}, bucket_ts)").alias("vlast"),
        )
    )
    return m4, chosen, True


def _jobs_run(spark, fn) -> list:
    """The Spark job ids ``fn()`` started, counted over a job group."""
    sc = spark.sparkContext
    group = f"query-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "dashboard reads")
    try:
        fn()
        return list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_query_series_picks_finest_fitting_tier(stores, span):
    job = stores("parquet_snapshot")
    lo, _hi = span

    # 2h span = 120 minute buckets <= 500 -> finest tier
    df, tier, m4 = job.query_series(lo, lo + 7200, max_points=500)
    assert (tier, m4) == ("1m", False)
    got = {
        (r.conv_id, r.bucket_ts): r.turn_rate for r in df.collect()
    }
    want = {
        (r.conv_id, r.bucket_ts): float(r.turn_rate)
        for r in job.read_tier("1m")
        .filter(
            F.unix_timestamp("bucket_ts").between(
                (lo // 60) * 60, lo + 7200  # leading bucket included
            )
        )
        .collect()
    }
    assert got == want and got

    # 2h span with a 10-point budget -> 1h fits (2 buckets)
    _df, tier, m4 = job.query_series(lo, lo + 7200, max_points=10)
    assert (tier, m4) == ("1h", False)

    # 30-day span, 100-point budget -> 720 hourly buckets overflow,
    # 30 daily fit
    _df, tier, m4 = job.query_series(
        lo, lo + 30 * 86400, max_points=100
    )
    assert (tier, m4) == ("1d", False)


def test_query_series_m4_fallback_bounds_points(stores, span):
    job = stores("parquet_snapshot")
    lo = span[0]
    # 400-day span, 16-point budget: even 1d gives 400 buckets -> M4
    df, tier, m4 = job.query_series(
        lo, lo + 400 * 86400, max_points=16
    )
    assert (tier, m4) == ("1d", True)
    assert set(df.columns) == {
        "conv_id", "px_ts", "vmin", "vmax", "vfirst", "vlast"
    }
    per_conv = (
        df.groupBy("conv_id").count().agg(F.max("count")).collect()
    )[0][0]
    assert per_conv <= 16 // 4 + 1
    # M4 envelope is consistent
    bad = df.filter(
        (F.col("vmin") > F.col("vmax"))
        | (F.col("vfirst") < F.col("vmin"))
        | (F.col("vfirst") > F.col("vmax"))
    ).count()
    assert bad == 0


def test_query_series_conv_filter_prunes_chunks(stores, span, early_convs):
    job = stores("parquet_snapshot")
    lo = span[0]
    df, tier, _m4 = job.query_series(
        lo, lo + 7200, max_points=1000, conv_ids=early_convs
    )
    assert set(
        r.conv_id for r in df.select("conv_id").distinct().collect()
    ) <= set(early_convs)
    assert df.count() > 0


# (name, ts_lo offset, span, max_points, conv_ids, value_col, tier, m4);
# conv_ids "early" stands for the early_convs fixture
PARITY_CASES = [
    ("1m", 0, 7200, 500, "early", "turn_rate", "1m", False),
    ("1m-all-convs", 0, 7200, 500, None, "turn_rate", "1m", False),
    ("1h", 0, 7200, 10, "early", "turn_rate", "1h", False),
    ("1d-all-convs", 0, 30 * 86400, 100, None, "turn_rate", "1d", False),
    ("m4-all-convs", 0, 400 * 86400, 16, None, "turn_rate", "1d", True),
    ("m4-text-len", 3600, 400 * 86400, 16, "early", "text_len", "1d", True),
    ("empty-range", -20 * 86400, 86400, 500, None, "turn_rate", "1h",
     False),
    ("empty-convs", 0, 7200, 500, ["no-such-conv"], "turn_rate", "1m",
     False),
    ("empty-m4", -900 * 86400, 400 * 86400, 16, None, "tool_usage", "1d",
     True),
]


@pytest.mark.parametrize("backend", list(BACKENDS))
@pytest.mark.parametrize(
    "case", PARITY_CASES, ids=[c[0] for c in PARITY_CASES]
)
def test_query_series_matches_spark_formulation(
    stores, span, early_convs, backend, case
):
    _name, off, width, max_points, convs, value_col, tier, m4 = case
    job = stores(backend)
    convs = early_convs if convs == "early" else convs
    args = (span[0] + off, span[0] + off + width, max_points, convs,
            value_col)
    got, got_tier, got_m4 = job.query_series(*args)
    want, want_tier, want_m4 = _spark_answer(job, *args)
    assert (got_tier, got_m4) == (want_tier, want_m4) == (tier, m4)
    assert got.schema == want.schema
    got_rows, want_rows = Counter(got.collect()), Counter(want.collect())
    assert got_rows == want_rows
    assert bool(got_rows) == (not _name.startswith("empty"))


def test_m4_matches_spark_aggregates_with_nan(spark):
    """Spark orders NaN above every number: a pixel's min is NaN only
    when all of it is, its max whenever any of it is; first/last are
    the values at its first/last bucket whatever they are."""
    nan = float("nan")
    conv = ["a"] * 6 + ["b"] * 3
    ts = [0, 60, 120, 600, 660, 720, 0, 60, 120]
    val = [nan, 2.0, 1.0, nan, nan, nan, 3.0, -1.0, nan]
    rows = pa.RecordBatch.from_arrays(
        [pa.array(conv), pa.array(np.array(ts) * 10**6).cast(
            pa.timestamp("us")), pa.array(val)],
        names=["conv_id", "bucket_ts", "v"],
    )
    out = _m4(rows, "v", 300)
    px = out.column("px_ts").cast(pa.int64()).to_numpy() // 10**6
    got = {
        (r["conv_id"], int(e)): r for r, e in zip(out.to_pylist(), px)
    }
    sdf = spark.createDataFrame(
        list(zip(conv, ts, val)), "conv_id string, e long, v double"
    ).withColumn("bucket_ts", F.timestamp_seconds("e"))
    want = (
        sdf.withColumn("px_ts", F.timestamp_seconds(
            (F.floor(F.col("e") / 300) * 300).cast("long")))
        .groupBy("conv_id", "px_ts")
        .agg(F.min("v").alias("vmin"), F.max("v").alias("vmax"),
             F.expr("min_by(v, bucket_ts)").alias("vfirst"),
             F.expr("max_by(v, bucket_ts)").alias("vlast"))
        .withColumn("e", F.unix_timestamp("px_ts"))
        .collect()
    )
    assert len(got) == len(want) == 3
    for r in want:
        g = got[(r.conv_id, r.e)]
        for c in M4_SCHEMA.names[2:]:
            assert np.array_equal(g[c], r[c], equal_nan=True), (r, c)


def test_query_series_reads_no_spark_job(spark, stores, span, early_convs):
    job = stores("parquet_snapshot")
    lo = span[0]
    counts = []

    def read():
        for hi, budget in ((lo + 7200, 500), (lo + 400 * 86400, 16)):
            df, _tier, _m4 = job.query_series(
                lo, hi, max_points=budget, conv_ids=early_convs
            )
            counts.append(len(df.collect()))

    assert _jobs_run(spark, read) == []
    assert all(counts)


def test_query_series_rejects_a_bare_str(stores, span, early_convs):
    job = stores("parquet_snapshot")
    with pytest.raises(TypeError, match="not a str"):
        job.query_series(span[0], span[0] + 7200, conv_ids=early_convs[0])


def test_query_series_rejects_unknown_value_col_before_reading(
    spark, tmp_path
):
    # no table exists here: a read would raise FileNotFoundError
    job = RollupJob(spark, str(tmp_path / "none"), n_partitions=2)
    with pytest.raises(ValueError, match="value_col"):
        job.query_series(0, 7200, value_col="turn_rates")


def test_query_series_decodes_chunks_without_zone_maps(
    spark, stores, span, early_convs, tmp_path
):
    """A chunk file written before ts_min/ts_max existed reads them as
    NULL (schema evolution); its chunk rows must be decoded, not
    excluded by the zone-map test."""
    src = stores("parquet_snapshot")
    shutil.copytree(src.work_dir, tmp_path / "q")
    job = RollupJob(spark, str(tmp_path / "q"), n_partitions=2,
                    source_snapshot="s1")
    chunks = job.table("tier_1m_chunks")
    rows = chunks.read(spark).localCheckpoint(eager=True)
    legacy = F.col("conv_id").isin(early_convs)
    chunks.overwrite(rows.filter(legacy).drop("ts_min", "ts_max"))
    chunks.append(rows.filter(~legacy))
    zone = chunks.read_arrow(spark, ["conv_id", "ts_min", "ts_max"])
    nulls = zone.filter(zone.column("ts_min").is_null())
    assert set(nulls.column("conv_id").to_pylist()) == set(early_convs)

    lo, hi = span[0], span[0] + 7200
    df, tier, m4 = job.query_series(lo, hi, max_points=500)
    assert (tier, m4) == ("1m", False)
    want = (
        job.read_tier("1m")
        .filter(F.unix_timestamp("bucket_ts").between((lo // 60) * 60, hi))
        .select("conv_id", "bucket_ts",
                *[F.col(c).cast("double") for c in METRIC_COLS])
    )
    got_rows = Counter(df.collect())
    assert got_rows == Counter(want.collect())
    assert {r.conv_id for r in got_rows} >= set(early_convs)
