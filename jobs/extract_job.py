"""Cluster entry point for the extraction pipeline.

Deploy (north_rule):
    python tools/package.py              # → dist/pdfspark.zip
    spark-submit --py-files dist/pdfspark.zip jobs/extract_job.py \
        --sf-dir /data/corpus --out /warehouse/spans --buckets 4096

On a real cluster add --master yarn/k8s and executor sizing; the job
is bucket-checkpointed (pdfspark.scale.run_checkpointed), so a killed
run resumes from the lineage table without recomputing done buckets.
The driver writes and reads that lineage and the config sidecar
itself, so --out must be on the driver's filesystem (a path or a
file: URI).
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", required=True)
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument("--variant", default="mixed")
    ap.add_argument(
        "--replicate", type=int, default=1,
        help="deterministic in-plan corpus scale-up (scaling/stress runs)",
    )
    ap.add_argument(
        "--sink", default="parquet", choices=("parquet", "null"),
        help="null = identical plan through Spark's noop datasource "
        "(compute-only wall; no span/lineage output, no resume state)",
    )
    ap.add_argument(
        "--group-size", type=int, default=4,
        help="buckets per commit group (run_checkpointed's "
        "buckets_per_commit): smaller = finer resume granularity, "
        "larger = fewer sequential job barriers → better scaling",
    )
    ap.add_argument(
        "--warmup", action="store_true",
        help="run one small compute-only pass before the timed run so "
        "compute_wall_s measures a WARM executor pool (JIT + Python "
        "workers up) — the long-lived-cluster steady state; without it "
        "the wall includes one-time spin-up, which a scaling ratio "
        "then misattributes to the smaller level's advantage",
    )
    args = ap.parse_args()

    import time

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("pdfspark-extract").getOrCreate()
    from pdfspark.scale import completed_buckets, run_checkpointed

    if args.warmup:
        run_checkpointed(
            spark, args.sf_dir, args.out + "-warmup", n_buckets=1,
            variant=args.variant, sink="null",
        )
    t0 = time.monotonic()
    n = run_checkpointed(
        spark, args.sf_dir, args.out, n_buckets=args.buckets,
        variant=args.variant, replicate=args.replicate, sink=args.sink,
        buckets_per_commit=args.group_size,
    )
    compute_wall = round(time.monotonic() - t0, 3)
    done = (
        completed_buckets(f"{args.out}/lineage")
        if args.sink == "parquet"
        else set()
    )
    print(
        json.dumps(
            {
                "processed_this_run": n,
                "buckets_done": len(done),
                "out": args.out,
                "sink": args.sink,
                # post-session compute wall (excludes JVM startup) —
                # the number scaling comparisons should use
                "compute_wall_s": compute_wall,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
