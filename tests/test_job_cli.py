"""End-to-end test of the spark-submit entry point: package the zip,
run jobs/rollup_job.py as a subprocess with --py-files-style isolation
(cwd outside the repo, zip on sys.path), verify tiers + manifest."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pandas as pd

REPO = Path(__file__).resolve().parent.parent


def test_make_pyfiles_zip_is_importable(tmp_path):
    zip_path = tmp_path / "tsaug_spark.zip"
    subprocess.run(
        [sys.executable, str(REPO / "tools" / "make_pyfiles.py"),
         str(zip_path)],
        check=True,
        capture_output=True,
    )
    # the build is reproducible, so the committed zip (what
    # spark-submit ships) must equal a fresh build of the sources:
    # a stale zip would ship old package code
    committed = REPO / "dist" / "tsaug_spark.zip"
    assert committed.read_bytes() == zip_path.read_bytes(), (
        "dist/tsaug_spark.zip is stale: run python tools/make_pyfiles.py"
    )
    # the zip must be a self-contained package root (what --py-files
    # ships to executors): import it from a clean interpreter with the
    # repo NOT on sys.path
    code = (
        "import sys; sys.path.insert(0, %r); "
        "import tsaug_spark.plans.rollup as r; "
        "import tsaug_spark.sources.checkpoint as c; "
        "print('ok')" % str(zip_path)
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        check=True,
        capture_output=True,
        text=True,
        cwd=str(tmp_path),
        env={**os.environ, "PYTHONPATH": ""},
    )
    assert out.stdout.strip() == "ok"


def test_rollup_job_cli_end_to_end(spark, transcripts, tmp_path):
    """Run the CLI as its own driver process over a small parquet input
    and check the tier tables + manifest it leaves behind."""
    src = str(tmp_path / "input")
    transcripts.write.mode("overwrite").parquet(src)
    work = str(tmp_path / "work")
    proc = subprocess.run(
        [
            sys.executable,
            str(REPO / "jobs" / "rollup_job.py"),
            "--input", src,
            "--work-dir", work,
            "--tiers", "1m,1h,1d",
            "--partitions", "2",
            "--snapshot", "cli-test",
        ],
        capture_output=True,
        text=True,
        timeout=600,
        env={**os.environ, "SPARK_GRAFT_CPUS": "4"},
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "tier 1m: processed 2 partitions" in proc.stdout

    from tsaug_spark.plans.rollup import rollup_transcripts
    from tsaug_spark.sources.checkpoint import RollupJob

    job = RollupJob(spark, work, n_partitions=2,
                    source_snapshot="cli-test")
    got = (
        job.read_tier("1m")
        .orderBy("conv_id", "bucket_ts")
        .toPandas()
        .reset_index(drop=True)
    )
    want = (
        rollup_transcripts(transcripts, "1m")
        .orderBy("conv_id", "bucket_ts")
        .toPandas()
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    # the --update run also refreshed the 1h continuous aggregate
    # incrementally (cascade_update), converging to the direct re-agg
    from tsaug_spark.plans.rollup import reaggregate

    got_1h = (
        job.read_tier("1h")
        .orderBy("conv_id", "bucket_ts")
        .toPandas()
        .reset_index(drop=True)
    )
    want_1h = (
        reaggregate(job.read_tier("1m"), "1m", "1h")
        .orderBy("conv_id", "bucket_ts")
        .toPandas()
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got_1h, want_1h, check_dtype=False)
    # every tier carries manifest lineage from the CLI run
    m = job.metrics().toPandas()
    assert set(m["tier"]) == {"1m", "1h", "1d"}
    assert (m["source_snapshot"] == "cli-test").all()
    # a re-run resumes: zero partitions processed
    proc2 = subprocess.run(
        [
            sys.executable,
            str(REPO / "jobs" / "rollup_job.py"),
            "--input", src,
            "--work-dir", work,
            "--tiers", "1m",
            "--partitions", "2",
            "--snapshot", "cli-test",
        ],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc2.returncode == 0, proc2.stderr[-3000:]
    assert "tier 1m: processed 0 partitions" in proc2.stdout


def test_rollup_job_cli_update_late_data(spark, transcripts, tmp_path):
    """CLI late-data workflow: initial --tiers 1m run on the early
    slice, then --update with the full table converges to the batch
    rollup under a new snapshot."""
    from pyspark.sql import functions as F

    lo, hi = transcripts.agg(
        F.min(F.unix_timestamp("ts")), F.max(F.unix_timestamp("ts"))
    ).collect()[0]
    cutoff = F.timestamp_seconds(F.lit(int(lo + 0.7 * (hi - lo))))
    early = transcripts.filter(F.col("ts") < cutoff)

    src_early = str(tmp_path / "early")
    src_full = str(tmp_path / "full")
    early.write.mode("overwrite").parquet(src_early)
    transcripts.write.mode("overwrite").parquet(src_full)
    work = str(tmp_path / "uwork")

    base = [sys.executable, str(REPO / "jobs" / "rollup_job.py"),
            "--work-dir", work, "--tiers", "1m,1h", "--partitions", "2"]
    p1 = subprocess.run(
        base + ["--input", src_early, "--snapshot", "s1"],
        capture_output=True, text=True, timeout=600,
    )
    assert p1.returncode == 0, p1.stderr[-2000:]
    p2 = subprocess.run(
        base + ["--input", src_full, "--snapshot", "s2",
                "--update", "--grace", "2 hours"],
        capture_output=True, text=True, timeout=600,
    )
    assert p2.returncode == 0, p2.stderr[-2000:]
    assert "updated" in p2.stdout

    from tsaug_spark.plans.rollup import rollup_transcripts
    from tsaug_spark.sources.checkpoint import RollupJob

    job = RollupJob(spark, work, n_partitions=2)
    got = (
        job.read_tier("1m")
        .orderBy("conv_id", "bucket_ts")
        .toPandas()
        .reset_index(drop=True)
    )
    want = (
        rollup_transcripts(transcripts, "1m")
        .orderBy("conv_id", "bucket_ts")
        .toPandas()
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_spark_submit_py_files_end_to_end(spark, transcripts, tmp_path):
    """The literal north-rule run mode: ``spark-submit --py-files
    dist/tsaug_spark.zip jobs/rollup_job.py`` — executed from OUTSIDE
    the repo (script copied and zip built into a temp dir, PYTHONPATH
    empty, so the test never rewrites the committed zip) so
    the shipped zip is the only source of the package, exactly as on a
    cluster."""
    import shutil

    import pyspark

    spark_submit = (
        Path(pyspark.__file__).resolve().parent / "bin" / "spark-submit"
    )
    zip_copy = tmp_path / "tsaug_spark.zip"
    subprocess.run(
        [sys.executable, str(REPO / "tools" / "make_pyfiles.py"),
         str(zip_copy)],
        check=True, capture_output=True,
    )
    src = str(tmp_path / "in")
    transcripts.write.mode("overwrite").parquet(src)
    job_copy = tmp_path / "rollup_job.py"
    shutil.copy(REPO / "jobs" / "rollup_job.py", job_copy)
    work = str(tmp_path / "work")

    proc = subprocess.run(
        [
            str(spark_submit),
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--py-files", str(zip_copy),
            str(job_copy),
            "--input", src,
            "--work-dir", work,
            "--tiers", "1m,1h",
            "--partitions", "2",
            "--snapshot", "submit-test",
        ],
        capture_output=True, text=True, timeout=600,
        cwd=str(tmp_path), env={**os.environ, "PYTHONPATH": ""},
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "tier 1m: processed 2 partitions" in proc.stdout
    assert "tier 1h: processed 2 partitions" in proc.stdout

    from tsaug_spark.plans.rollup import rollup_transcripts
    from tsaug_spark.sources.checkpoint import RollupJob

    job = RollupJob(spark, work, n_partitions=2,
                    source_snapshot="submit-test")
    assert job.read_tier("1m").count() == rollup_transcripts(
        transcripts, "1m"
    ).count()
    m = job.metrics("1m").toPandas()
    assert (m["source_snapshot"] == "submit-test").all()


def test_curate_job_cli_end_to_end(spark, tmp_path):
    """Full curation CLI over the sf0.001 documents: curated shards
    partitioned by (split, source) + a manifest that reconciles."""
    work = str(tmp_path / "curated")
    proc = subprocess.run(
        [
            sys.executable,
            str(REPO / "jobs" / "curate_job.py"),
            "--input", "/root/testdata/sf0.001/documents.parquet",
            "--output", work,
            "--budget", "300",
            "--split", "train=0.8,val=0.1,test=0.1",
            "--mix", "src0=1.0,src1=0.5",
            "--default-rate", "0.5",
            "--salt", "clitest",
        ],
        capture_output=True,
        text=True,
        timeout=600,
        env={**os.environ, "SPARK_GRAFT_CPUS": "4"},
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "curated 500 -> " in proc.stdout

    from pyspark.sql import functions as F

    shards = spark.read.parquet(f"{work}/shards")
    manifest = spark.read.parquet(f"{work}/manifest")
    n_docs = shards.count()
    assert 0 < n_docs < 500            # gates + mixture really dropped
    assert set(shards.select("split").distinct().toPandas()["split"]) \
        <= {"train", "val", "test"}
    # manifest reconciles with the shard files
    tot_m = manifest.agg(F.sum("shard_tokens")).first()[0]
    tot_s = shards.agg(F.sum("n_tokens")).first()[0]
    assert tot_m == tot_s
    # no shard spans a (split, source) boundary by construction;
    # shard token totals respect the budget + one-doc overflow
    joined = (
        shards.groupBy("split", "source", "shard_id")
        .agg(F.sum("n_tokens").alias("tot"),
             F.max("n_tokens").alias("mx"))
    )
    assert joined.filter(F.col("tot") >= 300 + F.col("mx")).count() == 0
    # determinism: same salt -> same membership on a second run
    work2 = str(tmp_path / "curated2")
    proc2 = subprocess.run(
        [
            sys.executable,
            str(REPO / "jobs" / "curate_job.py"),
            "--input", "/root/testdata/sf0.001/documents.parquet",
            "--output", work2,
            "--budget", "300",
            "--split", "train=0.8,val=0.1,test=0.1",
            "--mix", "src0=1.0,src1=0.5",
            "--default-rate", "0.5",
            "--salt", "clitest",
        ],
        capture_output=True, text=True, timeout=600,
        env={**os.environ, "SPARK_GRAFT_CPUS": "4"},
    )
    assert proc2.returncode == 0, proc2.stderr[-3000:]
    a = spark.read.parquet(f"{work}/shards").select(
        "doc_id", "split", "shard_id")
    b = spark.read.parquet(f"{work2}/shards").select(
        "doc_id", "split", "shard_id")
    assert a.subtract(b).count() == 0 and b.subtract(a).count() == 0
