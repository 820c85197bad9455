"""Cluster entry point for the STREAMING extraction pipeline.

Deploy:
    python tools/package.py              # → dist/pdfspark.zip
    spark-submit --py-files dist/pdfspark.zip jobs/stream_extract_job.py \
        --landing /ingest/payloads --out /warehouse/stream_spans

Payload parquet files land in --landing; each micro-batch runs the
same mapInPandas extract as the batch job and commits through the
exactly-once foreachBatch sink (per-batch partition OVERWRITE + a
lineage row — a batch replayed after a crash replaces its partition,
never duplicates it; see ops/streaming.run_streaming_extraction_to_table
and the kill-and-rerun test). --out/spans holds the batch job's
per-document table, (doc_id, status, error, spans[]) partitioned by
batch_id, so a document that fails extraction is a status='error'
row; --out/lineage has one row per batch (doc_count, rows_out,
wall_ms), written by the driver, so --out must be on the driver's
filesystem. Re-running with the same --out resumes from the
checkpointed source offsets.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--landing", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--max-files-per-trigger", type=int, default=8)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("pdfspark-stream-extract").getOrCreate()
    from pdfspark.ops.streaming import run_streaming_extraction_to_table

    n = run_streaming_extraction_to_table(
        spark,
        args.landing,
        args.out,
        max_files_per_trigger=args.max_files_per_trigger,
    )
    print(json.dumps({"batches_this_run": n, "out": args.out}))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
