"""Bounded-window plan gate (round-5 ask #5).

An unpartitioned ``Window.orderBy`` funnels its whole input through one
task.  The repo's daily/hourly screens use this deliberately — but only
ever on post-aggregate frames bounded by the retention horizon.  This
gate CHECKS that invariant over the full registry: every unpartitioned
WindowExec in every ``queries()`` plan must have an aggregate or a
limit below it (tsaug_spark/plans/audit.py), with a per-query exemption
list for any future deliberate exception (currently empty).

Self-checks: an injected ``Window.orderBy`` directly over the raw events
scan must be flagged, as a JVM window and as a pandas window UDF —
proving the rule can fail.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from tsaug_spark.plans.audit import unpartitioned_window_violations

SF = "/root/testdata/sf0.01"

#: queries allowed to carry an unpartitioned window over a non-bounded
#: input (none today; a future entry must justify itself here)
EXEMPT: set = set()


def test_bounded_window_registry_sweep(spark):
    import __spark_entry__ as em

    failures = []
    for name, q in sorted(em.queries().items()):
        if name in EXEMPT:
            continue
        try:
            df = q(spark, SF)
        except Exception as exc:  # construction failure is its own bug
            failures.append(f"{name}: construction raised {exc!r}")
            continue
        for v in unpartitioned_window_violations(df):
            failures.append(f"{name}: {v}")
    assert not failures, "\n".join(failures)


def test_gate_flips_on_injected_unpartitioned_window(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    bad = ev.withColumn(
        "rn", F.row_number().over(Window.orderBy("ts"))
    )
    assert unpartitioned_window_violations(bad), (
        "the gate must flag an unpartitioned window over raw events"
    )


def test_gate_flags_unpartitioned_pandas_window_udf(spark):
    """A pandas grouped-agg UDF over an unpartitioned window plans as
    ArrowWindowPythonExec (Spark 4), not WindowExec: the gate must
    flag it as well."""
    @pandas_udf("double")
    def mean_udf(v: pd.Series) -> float:
        return float(v.mean())

    ev = spark.read.parquet(f"{SF}/events.parquet")
    bad = ev.withColumn(
        "m", mean_udf(F.col("value")).over(Window.orderBy("ts"))
    )
    assert unpartitioned_window_violations(bad), (
        "the gate must flag an unpartitioned pandas window UDF"
    )


def test_gate_accepts_post_aggregate_window(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    daily = ev.groupBy(
        F.window("ts", "1 day").alias("w")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    ok = daily.withColumn(
        "rn", F.row_number().over(Window.orderBy("w"))
    )
    assert unpartitioned_window_violations(ok) == []
