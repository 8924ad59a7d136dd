"""spark-submit entry point for the resumable tier-rollup job.

Cluster usage (the production path — BASELINE.json run mode)::

    python tools/make_pyfiles.py          # builds dist/tsaug_spark.zip
    spark-submit --py-files dist/tsaug_spark.zip \
        --master <cluster> jobs/rollup_job.py \
        --input  <transcripts parquet/iceberg path> \
        --work-dir <tier + checkpoint root> \
        --tiers 1m,1h,1d --partitions 64

The job is resumable: rerunning after a crash skips partitions whose
checkpoint manifest rows exist (sources/checkpoint.py), and every
partition commit carries lineage (source snapshot, watermark) + metrics
(points_rolled, bytes_compressed).
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--tiers", default="1m,1h,1d")
    ap.add_argument("--partitions", type=int, default=64)
    ap.add_argument("--snapshot", default=None)
    ap.add_argument(
        "--no-resume",
        action="store_true",
        help="rebuild every partition, even those the manifest records "
        "as done for this snapshot; a re-run replaces each partition's "
        "rows rather than appending them",
    )
    ap.add_argument(
        "--update",
        action="store_true",
        help="batch-incremental maintenance instead of a full run: "
        "re-roll only buckets at/after each partition's committed "
        "watermark minus --grace (the late-data path; one job + one "
        "commit for all partitions)",
    )
    ap.add_argument("--grace", default="1 hour")
    ap.add_argument(
        "--expire-snapshots",
        type=int,
        default=None,
        metavar="N",
        help="after the run, garbage-collect all but the newest N "
        "TABLE snapshots per tier/chunk/manifest table (time-travel "
        "history GC; the current snapshot is always kept)",
    )
    ap.add_argument(
        "--compact-files",
        type=int,
        default=None,
        metavar="MB",
        help="after the run, bin-pack each tier/chunk/manifest "
        "table's current snapshot into ~MB-sized data files "
        "(OPTIMIZE/rewrite_data_files analogue; file counts grow "
        "monotonically under appends and incremental updates)",
    )
    ap.add_argument(
        "--retention",
        default=None,
        help="per-tier expiry windows, e.g. '1m=2 days,1h=90 days' "
        "(anchored at the coarser tier's rollup watermark, never "
        "wall clock; omitted tiers are kept forever)",
    )
    args = ap.parse_args()

    from tsaug_spark.session import get_spark
    from tsaug_spark.sources.checkpoint import RollupJob

    spark = get_spark("tsaug-rollup-job")
    transcripts = spark.read.parquet(args.input)

    snapshot = args.snapshot or f"path:{args.input}"
    job = RollupJob(
        spark,
        args.work_dir,
        n_partitions=args.partitions,
        source_snapshot=snapshot,
    )

    tiers = args.tiers.split(",")
    if "1m" in tiers:
        if args.update:
            n = job.update(
                transcripts, "1m", grace=args.grace,
                new_snapshot=snapshot,
            )
            print(f"tier 1m: updated {n} partitions")
        else:
            n = job.run(transcripts, "1m", resume=not args.no_resume)
            print(f"tier 1m: processed {n} partitions")
    for fine, coarse in (("1m", "1h"), ("1h", "1d")):
        if coarse not in tiers:
            continue
        if args.update:
            # incremental continuous-aggregate refresh: only the
            # watermark-grace tail of each partition is re-aggregated
            n = job.cascade_update(
                fine, coarse, grace=args.grace, new_snapshot=snapshot
            )
        else:
            n = job.cascade_tier(fine, coarse, resume=not args.no_resume)
        print(
            f"tier {coarse}: processed {n} partitions, "
            f"{job.read_tier(coarse).count()} buckets"
        )

    if args.retention:
        keep = {}
        for spec in args.retention.split(","):
            tier, dur = spec.split("=", 1)
            keep[tier.strip()] = dur.strip()
        dropped = job.enforce_retention(keep)
        print(f"retention: expired rows per tier {dropped}")

    if args.compact_files is not None:
        packed = job.compact_tables(
            target_file_mb=args.compact_files, tiers=tiers
        )
        print(
            "compaction: "
            f"{ {k: (v['before_files'], v['after_files']) for k, v in packed.items()} }"
        )

    if args.expire_snapshots is not None:
        gone = job.expire_table_snapshots(
            keep_last=args.expire_snapshots, tiers=tiers
        )
        print(
            "snapshot GC: expired "
            f"{ {k: len(v) for k, v in gone.items()} }"
        )

    m = job.metrics().toPandas()
    print(
        m.groupby("tier")[
            ["points_rolled", "bytes_raw", "bytes_compressed"]
        ].sum()
    )
    spark.stop()


if __name__ == "__main__":
    main()
