"""SparkSession factory with scale-tuned defaults.

Local sandbox runs single-JVM (``local[N]``); the conf below is the
same one the pipeline would ship to a 1000-executor cluster via
``spark-submit --py-files`` (BASELINE.json north_rule): AQE on for
runtime coalescing/skew handling, Arrow on for every pandas-UDF
boundary, UTC session timezone pinned for DuckDB-oracle comparability.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# docs per Arrow batch handed to a per-document Python stage:
# batch_bytes ≈ ARROW_BATCH × avg_doc_size must fit the Python worker
# (SURVEY §4.2 'Vectorized execution')
ARROW_BATCH = 512


def get_spark(
    master: str | None = None,
    app_name: str = "pdfspark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    master = master or f"local[{DEFAULT_CPUS}]"
    ncores = DEFAULT_CPUS if master.startswith("local") else 200
    shuffle_partitions = shuffle_partitions or ncores
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    return b.getOrCreate()
