"""Structured Streaming operators — the streaming twins of the batch
queries in ops/relational.py.

The north rule's pipeline is batch (Iceberg extraction), but a corpus
engine needs streaming ingest paths; these demonstrate the idiomatic
shapes: file-source readStream → watermark → windowed agg → memory
sink (driven to completion with processAllAvailable in tests), and a
custom stateful operator via applyInPandasWithState.

Correctness evidence: the windowed agg must equal the batch
`events_window_agg` (oracle-checked vs DuckDB) on the same input —
asserted in tests/test_ops.py.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampType,
)

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (one file = one
    micro-batch in tests; at scale this is the kafka/iceberg-CDC
    ingest edge)."""
    import hashlib
    import os
    import tempfile

    # the file stream source requires a DIRECTORY; stage the single
    # events file behind a symlink (at scale this is the landing dir
    # files arrive into)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    stage = os.path.join(tempfile.gettempdir(), f"pdfspark_stream_{tag}")
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "events.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.abspath(f"{sf_dir}/events.parquet"), link)
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(stage)


def windowed_counts(events: DataFrame) -> DataFrame:
    """5-minute tumbling windows with a 10-minute watermark — the
    streaming twin of relational.events_window_agg."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("v"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "v")
    )


def run_windowed_counts_to_memory(
    spark: SparkSession, sf_dir: str, name: str = "stream_out"
) -> DataFrame:
    q = (
        windowed_counts(stream_events(spark, sf_dir))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {name}")


# ---------------------------------------------------------------------------
# Custom stateful operator: running per-user event counter with
# applyInPandasWithState (the "custom stateful operator" surface)
# ---------------------------------------------------------------------------

_STATE_SCHEMA = StructType([StructField("n", LongType())])
_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("last_ts", TimestampType()),
    ]
)


def _count_fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    (user_id,) = key
    n = state.get[0] if state.exists else 0
    last_ts = None
    for pdf in pdfs:
        n += len(pdf)
        if len(pdf):
            last_ts = pdf["ts"].max()
    state.update((n,))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "last_ts": [last_ts]}
    )


def stateful_user_counts(events: DataFrame) -> DataFrame:
    return events.groupBy("user_id").applyInPandasWithState(
        _count_fn,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stateful_counts_to_memory(
    spark: SparkSession, sf_dir: str, name: str = "state_out"
) -> DataFrame:
    q = (
        stateful_user_counts(stream_events(spark, sf_dir))
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def stream_extract_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query `pdf_stream_extract` (r4): the WHOLE production
    streaming path — payload parquet lands in a directory, readStream
    micro-batches run the identical extract kernel, the exactly-once
    foreachBatch sink writes per-batch partitions + lineage — and the
    final spans table, exploded, must equal the batch round-trip, so
    the SAME spans-identity SQL oracle gates it. Upgrades streaming
    from pytest-only to a driver-oracled surface. The landing files
    are the spread generation's partitions (one Exchange, of text
    rows)."""
    import atexit
    import functools
    import os
    import shutil
    import tempfile

    from ..engine import generate_payloads, load_documents, spans_rows

    payloads = generate_payloads(load_documents(spark, sf_dir), "classic")
    # unique per invocation, removed at process exit: the returned
    # frame reads the output parquet lazily
    base = tempfile.mkdtemp(prefix="pdfspark-streamq-")
    atexit.register(functools.partial(shutil.rmtree, base, ignore_errors=True))
    landing = os.path.join(base, "landing")
    out = os.path.join(base, "out")
    payloads.write.parquet(landing)
    # two micro-batches, whatever the spread's partition (file) count
    n_files = sum(f.endswith(".parquet") for f in os.listdir(landing))
    run_streaming_extraction_to_table(
        spark, landing, out, max_files_per_trigger=max(1, -(-n_files // 2))
    )
    return spans_rows(spark.read.parquet(os.path.join(out, "spans")))


def stream_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query `stream_user_counts` (r4): the CUSTOM STATEFUL
    operator (applyInPandasWithState per-user counter) run to
    completion; update-mode emits one row per user per touching
    micro-batch, so the FINAL state is max(n_events) per user — which
    must equal a plain batch count. Oracled in ANSI SQL."""
    import pyspark.sql.functions as F

    out = run_stateful_counts_to_memory(spark, sf_dir, "drv_state_counts")
    return out.groupBy("user_id").agg(
        F.max("n_events").cast("bigint").alias("n_events")
    )


def stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query `stream_window_counts` (r4): the WATERMARKED
    windowed aggregation run through Structured Streaming's memory
    sink — gated by the SAME SQL oracle as its batch twin
    (events_window_agg), so watermark + window semantics carry the
    full rows+schema+hash correctness check, not just pytest."""
    return run_windowed_counts_to_memory(spark, sf_dir, "drv_win_counts")


def stage_events_ordered(
    spark: SparkSession, sf_dir: str, n_files: int = 8
) -> str:
    """Stage the events table as ``n_files`` event-time-ordered parquet
    files with strictly increasing mtimes, so the file stream source
    replays them in event-time order (its default oldest-mtime-first
    order).  Ordered arrival is what makes the append-mode watermark
    query DETERMINISTIC: with random arrival the watermark jumps to
    near-global-max after the first batch and most later events are
    dropped as late (measured: 255/986 windows emitted vs 986/986
    ordered).  At scale this ordering comes from the source itself
    (kafka offsets / landing-file arrival order), not a global sort —
    this staging harness only reproduces that arrival contract."""
    import hashlib
    import os
    import shutil
    import tempfile
    import time

    # the cache key includes the source file's (mtime, size) so a
    # regenerated events.parquet at the same path invalidates the
    # staged copies instead of silently serving a stale snapshot
    src = f"{sf_dir}/events.parquet"
    st = os.stat(src)
    tag = hashlib.md5(
        f"{sf_dir}:{n_files}:{st.st_mtime_ns}:{st.st_size}".encode()
    ).hexdigest()[:8]
    landing = os.path.join(
        tempfile.gettempdir(), f"pdfspark_stream_ord_{tag}"
    )
    if os.path.isdir(landing) and len(os.listdir(landing)) == n_files:
        return landing
    shutil.rmtree(landing, ignore_errors=True)
    tmp = landing + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # ascending range partitions: part-file NUMBER order == ts order
    ev.repartitionByRange(n_files, "ts").sortWithinPartitions(
        "ts"
    ).write.parquet(tmp)
    os.makedirs(landing + ".stage", exist_ok=True)
    parts = sorted(
        f for f in os.listdir(tmp) if f.endswith(".parquet")
    )
    t0 = time.time() - 3600
    for k, f in enumerate(parts):
        dst = os.path.join(landing + ".stage", f"{k:05d}.parquet")
        os.rename(os.path.join(tmp, f), dst)
        os.utime(dst, (t0 + k, t0 + k))
    shutil.rmtree(tmp, ignore_errors=True)
    os.rename(landing + ".stage", landing)
    return landing


def stage_events_duplicated(spark: SparkSession, sf_dir: str) -> str:
    """Stage the ordered event files with every file REPLAYED twice in
    adjacent arrival slots (…, k.a, k.b, …) — the exact-duplicate
    ingest shape (at-least-once upstream delivery) the streaming dedup
    operator exists for.  Adjacent arrival keeps each duplicate inside
    the watermark window, so first occurrences are never late and the
    dedup output is deterministic."""
    import os
    import shutil
    import tempfile
    import time

    base = stage_events_ordered(spark, sf_dir)
    landing = base + "_dup"
    parts = sorted(os.listdir(base))
    if os.path.isdir(landing) and len(os.listdir(landing)) == 2 * len(parts):
        return landing
    shutil.rmtree(landing, ignore_errors=True)
    stage = tempfile.mkdtemp(prefix="pdfspark-dup-stage-")
    t0 = time.time() - 3600
    for k, f in enumerate(parts):
        for j, suffix in enumerate(("a", "b")):
            dst = os.path.join(stage, f"{k:05d}{suffix}.parquet")
            shutil.copyfile(os.path.join(base, f), dst)
            os.utime(dst, (t0 + 2 * k + j, t0 + 2 * k + j))
    os.rename(stage, landing)
    return landing


def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query `stream_dedup_events` (r6): STREAMING exact
    deduplication — the ingest-side counterpart of the batch dedup
    family.  `dropDuplicates` over the full event row with a 10-minute
    watermark bounding the dedup state (ISO production shape:
    at-least-once delivery upstream, exactly-once rows downstream);
    the landing replays every file twice so the state dedup is
    genuinely exercised (20 000 arriving rows → 10 000 at sf0.01).
    Late-arriving duplicates past the watermark are dropped as late —
    which for DEDUP is the correct outcome, so determinism holds.
    Oracle: batch SELECT DISTINCT over the events table."""
    landing = stage_events_duplicated(spark, sf_dir)
    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
    )
    deduped = src.withWatermark("ts", "10 minutes").dropDuplicates(
        ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    name = "drv_stream_dedup"
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def stream_append_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query `stream_append_counts` (r5): the PRODUCTION posture
    for streaming window aggregation — outputMode("append") with
    watermark EVICTION to a parquet FILE sink (checkpointed), i.e.
    bounded state, unlike the complete-mode memory-sink harness of
    `stream_window_counts`.  A window row is emitted exactly once,
    when the watermark (max event time − 10 min) passes its end; state
    for emitted windows is dropped.  The oracle is the batch twin
    restricted to CLOSED windows: win_end <= max(ts) − 10 min — the
    final no-data micro-batch evicts everything up to the global
    watermark, so the sink holds exactly the closed-window subset
    (pinned empirically: 986/986 window match at sf0.001)."""
    import atexit
    import functools
    import os
    import shutil
    import tempfile
    import time as _time

    landing = stage_events_ordered(spark, sf_dir)
    # unique workdir per invocation (a deterministic shared path would
    # let one invocation rmtree another's ACTIVE checkpoint/sink —
    # and the returned DataFrame reads its parquet lazily), cleaned at
    # process exit so repeated runs don't leak temp dirs
    base = tempfile.mkdtemp(prefix="pdfspark-append-")
    atexit.register(functools.partial(shutil.rmtree, base, ignore_errors=True))
    out = os.path.join(base, "out")
    ck = os.path.join(base, "ck")
    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
    )
    q = (
        windowed_counts(src)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .start()
    )
    q.processAllAvailable()
    # processAllAvailable guarantees the DATA batches committed, but the
    # eviction of windows up to the final watermark happens in the
    # trailing NO-DATA micro-batch, which commits asynchronously — wait
    # until a zero-input batch has run after the last data batch so the
    # closed-window oracle boundary is deterministic at every SF
    deadline = _time.time() + 120
    while _time.time() < deadline:
        rp = q.recentProgress
        if rp and rp[-1]["numInputRows"] == 0:
            break
        q.processAllAvailable()
        _time.sleep(0.2)
    q.stop()
    return spark.read.parquet(out)


def queries():
    # the stateful-counter operator stays pytest-only (its output is
    # update-mode runtime state); the watermarked window agg and the
    # production extraction sink ARE stable tables → driver-oracled
    return {
        "pdf_stream_extract": stream_extract_rows,
        "stream_window_counts": stream_window_counts,
        "stream_user_counts": stream_user_counts,
        "stream_append_counts": stream_append_counts,
        "stream_dedup_events": stream_dedup_events,
    }


def oracles():
    # registered centrally: __spark_entry__ assigns the shared
    # spans-identity SQL (streaming result == batch round-trip)
    return {}


# ---------------------------------------------------------------------------
# Streaming extraction: the batch kernel unchanged under readStream —
# payload parquet lands in a directory, each micro-batch runs the same
# mapInPandas extract and commits through the batch job's commit step
# ---------------------------------------------------------------------------


def run_streaming_extraction_to_table(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    max_files_per_trigger: int = 1,
    fail_after_batches: int | None = None,
) -> int:
    """Production streaming sink: readStream → extract →
    foreachBatch → per-batch-partition OVERWRITE + lineage row.

    The table has the batch job's per-document shape, ``(doc_id,
    status, error, spans[])`` partitioned by ``batch_id`` (read span
    rows through ``engine.spans_rows``): a document that fails
    extraction lands as a ``status='error'`` row instead of vanishing.
    Each batch commits through ``scale.commit_observed``, the batch
    job's commit step, so its lineage row (``doc_count`` = every
    document, error ones included; ``rows_out`` = spans) is observed
    during the write, with no read-back. The driver writes that row
    itself (no Spark job) as ``lineage/batch_id=<b>/part-0.parquet``,
    so ``out_dir`` must be on the driver's filesystem: any scheme but
    ``file:`` raises ``ValueError`` before the query starts.

    Exactly-once without an idempotent sink format: Spark's
    checkpointed file-source offsets guarantee a replayed micro-batch
    carries the SAME batch_id, and BOTH writes are idempotent per
    batch_id — the span data through `overwrite_partitions`, the
    lineage row as the one fixed file of its batch_id directory (any
    other parquet file there, such as a row from an older writer, is
    removed). A batch that crashed anywhere between the data write and
    the offset commit is simply rewritten on restart, replacing rather
    than duplicating its lineage row (same contract as
    scale.run_checkpointed, asserted by the kill-and-rerun streaming
    test). Residual window: a crash after the lineage write but before
    the offset commit briefly leaves a lineage row for a batch whose
    offsets are uncommitted; the replay replaces it with the identical
    row, so readers never see duplicates — at worst one
    transiently-early row. ``fail_after_batches`` injects the crash
    for that test. Returns the number of batches committed in THIS
    run."""
    import os
    import time

    from ..engine import extract
    from ..scale import _driver_path, _write_lineage, commit_observed

    out_dir = _driver_path(out_dir)
    data_dir = os.path.join(out_dir, "spans")
    lineage_dir = os.path.join(out_dir, "lineage")
    ckpt = os.path.join(out_dir, "_checkpoint")
    committed = {"n": 0}

    payloads = (
        spark.readStream.schema("doc_id bigint, payload binary")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(landing_dir)
    )
    rows = extract(payloads)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        t0 = time.monotonic()
        b = int(batch_id)
        docs, spans = commit_observed(batch_df, spark, data_dir, "batch_id", F.lit(b), [b])[b]
        if (
            fail_after_batches is not None
            and committed["n"] + 1 >= fail_after_batches
        ):
            # crash INSIDE the data-written/lineage-pending window
            raise RuntimeError(f"injected failure in batch {batch_id}")
        wall_ms = int((time.monotonic() - t0) * 1000)
        # one fixed file per batch_id: a replayed batch REPLACES its
        # lineage row instead of appending a duplicate
        part_dir = os.path.join(lineage_dir, f"batch_id={b}")
        _write_lineage(
            part_dir, [("done", docs, spans, wall_ms)],
            "status string, doc_count long, rows_out long, wall_ms long", name="part-0.parquet",
        )
        for f in os.listdir(part_dir):
            if f.endswith(".parquet") and f != "part-0.parquet":
                os.remove(os.path.join(part_dir, f))
        committed["n"] += 1

    q = (
        rows.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        exc = q.exception()
    except Exception as e:  # StreamingQueryException wraps sink errors
        exc = e
    finally:
        q.stop()
    if exc is not None:
        raise RuntimeError(f"streaming query failed: {exc}")
    return committed["n"]
