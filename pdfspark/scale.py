"""Scale mechanics: explicit skew salting, checkpoint/lineage tables,
resumable bucketed execution (SURVEY.md §4.2, north_rule).

Three thin app-level pieces ride on built-in Spark (everything else is
AQE + Arrow + Catalyst; no custom rules):

1. ``salt_docs_by_size`` — AQE skew handling does NOT cover UDF
   stages, so large-PDF skew in the mapInPandas stages is handled with
   an explicit (size_class, salt) repartition of the cheap text rows
   BEFORE generation: a handful of 100 MB docs must not serialize one
   task (SURVEY §4.2(a)), and generation and extraction then pipeline
   in one stage behind that single Exchange. Generation
   (``engine._build_payloads``) applies it to its own input.
2. ``lineage`` table — per-bucket checkpoint/metrics rows
   (FIXTURES.md §5): (bucket, status, doc_count, bytes_in, spans_out,
   wall_ms, attempt). The counts are observed while the data is
   written (``commit_observed``, ``DataFrame.observe``); no job reads
   the output back to compute them. The rows are driver bookkeeping:
   the driver writes and reads them as parquet files itself
   (``pyarrow.parquet``, temp file + rename, like the job's config
   sidecar), so lineage I/O runs no Spark job.
3. ``run_checkpointed`` — bucket-granular commit + resume: an
   interrupted run reprocesses only buckets without a 'done' lineage
   row (resume = anti-join of pending vs completed; kill-and-rerun is
   tested in tests/test_scale.py). Its commit step,
   ``commit_observed``, is also the streaming sink's
   (ops/streaming.run_streaming_extraction_to_table).

Iceberg: the north rule targets Iceberg tables; this sandbox has no
Iceberg jars on the classpath (import-gated below), so the warehouse
falls back to directory-partitioned parquet with identical layout and
commit granularity. On a real cluster set
``spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog`` and
``USE_ICEBERG=1`` — the commit switches to
``writeTo(...).overwritePartitions()``.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Optional
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Observation, SparkSession


def have_iceberg(spark: SparkSession) -> bool:
    try:
        spark._jvm.org.apache.iceberg.spark.SparkCatalog  # noqa: B018
        return os.environ.get("USE_ICEBERG", "0") == "1"
    except Exception:
        return False


def overwrite_partitions(
    df: DataFrame, spark: SparkSession, target: str, partition_col: str
) -> None:
    """Idempotent per-partition commit: only the partitions present in
    `df` are replaced; everything else is untouched. This is the write
    mode for retryable units of work — a retried bucket REPLACES its
    partition instead of appending duplicates (Iceberg
    `overwritePartitions()`; parquet dynamic partition overwrite)."""
    if have_iceberg(spark):
        df.writeTo(target).overwritePartitions()
    else:
        # a writer option, not the session conf: no other write in the
        # session sees the mode
        df.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy(partition_col).parquet(target)


# ---------------------------------------------------------------------------
# 1. Skew salting
# ---------------------------------------------------------------------------


def salt_docs_by_size(
    docs_df: DataFrame,
    num_partitions: Optional[int] = None,
    salt_buckets: int = 4096,
) -> DataFrame:
    """Skew-salt the (doc_id, text) rows BEFORE the expensive UDF
    stages. Shuffling here moves the small text rows — not the
    generated payload bytes — and both generation and extraction then
    run pipelined in ONE stage with no further exchange (measured
    2.3× faster than salting the payload stream between them). Other
    columns (synth_spans_df's ``spans``) ride along unchanged.

    size_class = log4 bucket of the estimated payload size; salt
    spreads same-class docs. The span synthesis is deterministic in
    ``text`` (engine._SPANS_EXPR == codec.synth_spans_py), so the
    estimate is CLOSED-FORM in the text length:

        k       = ceil(len/CHUNK)            text chunks
        n_media = k div 3                    media spans (i%3==2)
        est     = len + 64·k + (32+64)·n_media

    which is exactly aggregate(spans, acc + coalesce(length(text),32)
    + 64) over the synthesized spans (pinned by
    tests/test_engine.py), without materializing the struct array.

    Partition count: ``num_partitions`` when given, else
    ``max(defaultParallelism, 8)`` — one wave at local[8] and wider,
    8 tasks in 2 waves on a 4-core host. It does not grow with the
    input size."""
    sc = docs_df.sparkSession.sparkContext
    n = num_partitions or max(sc.defaultParallelism, 8)
    k = "CAST(ceil(length(text) / 80.0) AS BIGINT)"
    est = F.expr(f"length(text) + 64L * {k} + 96L * ({k} DIV 3)")
    salted = docs_df.withColumn(
        "size_class",
        F.floor(F.log2(F.greatest(est, F.lit(2))) / 2).cast("int"),
    ).withColumn("salt", F.pmod(F.xxhash64("doc_id"), F.lit(salt_buckets)))
    return salted.repartition(n, "size_class", "salt").drop("salt", "size_class")


# the frozen bench.py and tools/{ab,scaling,skew}_bench.py compose this
# name over synth_spans_df output, which carries ``text``
salt_spans_by_size = salt_docs_by_size


# ---------------------------------------------------------------------------
# 2 + 3. Lineage + resumable bucketed run
# ---------------------------------------------------------------------------

LINEAGE_SCHEMA = (
    "bucket int, status string, doc_count long, bytes_in long, "
    "spans_out long, wall_ms long, attempt int"
)


_ARROW_TYPES = {"int": pa.int32(), "long": pa.int64(), "string": pa.string()}


def _arrow_schema(ddl: str) -> pa.Schema:
    return pa.schema([(n, _ARROW_TYPES[t]) for n, t in (c.split() for c in ddl.split(","))])


def _driver_path(out_dir: str) -> str:
    """``out_dir`` as a path on the driver's filesystem: a plain path or
    a ``file:`` URI. Lineage and the config sidecar are written and read
    by the driver itself, so any other scheme (``s3a://``, ``hdfs://``)
    is refused before anything runs or is created."""
    u = urlparse(out_dir)
    if u.scheme == "file":
        return u.path
    if u.scheme:
        raise ValueError(
            f"out_dir must be on the driver's filesystem (a path or a file: URI), got {out_dir!r}"
        )
    return out_dir


def _write_atomic(path: str, data: bytes) -> None:
    """``data`` to a '.'-prefixed temp file next to ``path``, renamed
    into place: a crash mid-write leaves no truncated file under
    ``path``, and pyarrow and Spark both skip names starting with '.'
    or '_'."""
    d, name = os.path.split(path)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{name}.tmp")
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)


def _write_lineage(
    lineage_dir: str, rows: list[tuple], schema: str = LINEAGE_SCHEMA,
    name: Optional[str] = None,
) -> None:
    """Lineage rows as one parquet file, ``name`` or a fresh
    ``part-<uuid>.parquet``, written by the driver (no Spark job).
    Spark reads the file back with exactly the ``schema`` types."""
    arrow = _arrow_schema(schema)
    buf = pa.BufferOutputStream()
    pq.write_table(pa.Table.from_pylist([dict(zip(arrow.names, r)) for r in rows], arrow), buf)
    name = name or f"part-{uuid.uuid4().hex}.parquet"
    _write_atomic(os.path.join(lineage_dir, name), buf.getvalue().to_pybytes())


def _lineage_state(lineage_dir: str) -> tuple[set[int], dict[int, int]]:
    """(buckets with a 'done' row, max attempt per bucket over any
    status) from ONE read of the lineage files — the resume set and
    the retry counter carried into the next run's lineage rows. Files
    written by Spark's parquet writer (with ``_SUCCESS`` and ``.crc``
    siblings) read the same way."""
    lineage_dir = _driver_path(lineage_dir)
    done: set[int] = set()
    attempts: dict[int, int] = {}
    if not os.path.isdir(lineage_dir):
        return done, attempts
    cols = pq.read_table(
        lineage_dir, columns=["bucket", "status", "attempt"],
        schema=_arrow_schema(LINEAGE_SCHEMA),
    ).to_pydict()
    for b, status, a in zip(cols["bucket"], cols["status"], cols["attempt"]):
        attempts[b] = max(attempts.get(b, a), a)
        if status == "done":
            done.add(b)
    return done, attempts


def completed_buckets(lineage_dir: str) -> set[int]:
    return _lineage_state(lineage_dir)[0]


def bucket_attempts(lineage_dir: str) -> dict[int, int]:
    return _lineage_state(lineage_dir)[1]


def commit_observed(
    df: DataFrame,
    spark: SparkSession,
    target: str,
    key_col: str,
    key: Column,
    keys: list[int],
) -> dict[int, tuple[int, int]]:
    """The one commit step of both extraction sinks: tag the
    per-document frame ``(doc_id, status, error, spans)`` with
    ``key_col`` = ``key``, write it with :func:`overwrite_partitions`
    and return each key's ``(doc_count, spans_out)``.

    The counts are observed on the rows as the write consumes them
    (``DataFrame.observe``: one conditional count and one conditional
    sum per key), so no job reads the output back. The observed node
    sits in the write's result stage, above any Exchange, so a retried
    map task cannot count twice; the metrics are read only after the
    write has returned. It observes ``df`` itself, below the key
    column's projection, so it does not split the write's generated
    code in two. Error documents count in ``doc_count`` and add no
    spans."""
    obs = Observation()
    metrics = []
    for k in keys:
        hit = key == k
        # count(when(…)), not count_if: count_if plans a projection of
        # its own below the observed node
        metrics += [F.count(F.when(hit, 1)).alias(f"d{k}"),
                    F.sum(F.when(hit, F.size("spans"))).alias(f"s{k}")]
    df = df.observe(obs, *metrics).withColumn(key_col, key)
    overwrite_partitions(df, spark, target, key_col)
    m = obs.get
    # a key with no rows sums to NULL
    return {k: (m[f"d{k}"], m[f"s{k}"] or 0) for k in keys}


def _bucket(n_buckets: int) -> Column:
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")


def _group_frame(
    spark: SparkSession,
    sf_dir: str,
    group: list[int],
    n_buckets: int,
    variant: str,
    replicate: int,
) -> tuple[DataFrame, Observation]:
    """One commit group's plan — the flagship shape of
    engine.roundtrip_rows: bucket-filtered (doc_id, text) →
    generate_payloads (which salts first) → extract. The salt is the
    plan's only Exchange and moves text rows, not payload bytes;
    generation and extraction pipeline in one stage behind it.

    The Observation carries each bucket's ``bytes_in`` (alias
    ``b<bucket>``): the payload bytes handed to extraction, observed
    on generation's output in that same stage."""
    from .engine import extract, generate_payloads, load_documents, replicate_docs

    docs = load_documents(spark, sf_dir)
    if replicate > 1:
        # deterministic in-plan corpus scale-up (scaling/stress runs
        # at the deployment surface — no data files written)
        docs = replicate_docs(docs, replicate)
    bucket = _bucket(n_buckets)
    payloads = generate_payloads(docs.where(bucket.isin(group)), variant)
    obs = Observation()
    payloads = payloads.observe(
        obs,
        *[F.sum(F.when(bucket == b, F.length("payload"))).alias(f"b{b}") for b in group],
    )
    return extract(payloads), obs


def run_checkpointed(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_buckets: int = 8,
    variant: str = "mixed",
    buckets_per_commit: int = 4,
    fail_after: Optional[int] = None,
    fail_before_commit: bool = False,
    replicate: int = 1,
    sink: str = "parquet",
) -> int:
    """Extraction over bucket(doc_id) groups with per-group commit.

    Each group runs :func:`_group_frame`, the flagship plan with one
    Exchange of text rows ahead of a pipelined generate → extract
    stage, and commits through :func:`commit_observed`: its lineage
    stats are observed during that one write, with no read-back.
    The driver writes the lineage rows and the ``_job_config.json``
    sidecar itself (:func:`_write_lineage`, :func:`_write_atomic`), and
    a resume reads the lineage once with pyarrow: lineage I/O runs no
    Spark job. So ``out_dir`` must be on the driver's filesystem (a
    path or a ``file:`` URI); any other scheme raises ``ValueError``
    before anything runs or is created.

    ``sink="null"`` runs the IDENTICAL per-bucket-group loop (same
    corpus scans, bucket filters, salting, generation, extraction,
    same group scheduling) but discards each group's result through
    Spark's noop datasource — no span parquet, no lineage, no resume
    state. This is the compute-only twin used to split compute wall
    from sink wall in deployment-surface scaling runs
    (BENCH/BASELINE.md).

    Resume semantics: rerunning with the same out_dir skips buckets
    already marked done (anti-join of pending vs lineage). A bucket is
    done only when its lineage row lands; the span data itself is
    written with per-partition OVERWRITE, so a crash in the window
    between the data write and the lineage commit leaves a bucket that
    the next run simply rewrites — no duplicate rows, ever. Returns
    the number of buckets processed THIS run. ``fail_after`` injects a
    crash after N buckets (for the kill-and-rerun test);
    ``fail_before_commit`` moves the injected crash INTO the
    data-written/lineage-pending window to exercise exactly that
    non-atomic gap.
    """
    out_dir = _driver_path(out_dir)
    lineage_dir = os.path.join(out_dir, "lineage")
    data_dir = os.path.join(out_dir, "spans")
    # resume-config guard: a rerun with different corpus-shaping
    # parameters would silently mix scales/variants in the output
    # (completed buckets skip, new buckets run at the new settings) —
    # pin the shape on first run, refuse mismatched resumes
    null_sink = sink == "null"
    cfg = {"replicate": int(replicate), "variant": variant,
           "n_buckets": int(n_buckets),
           # corpus identity: resuming against a different --sf-dir
           # would mix corpora across buckets just as silently as a
           # variant mismatch — pin the realpath too
           "sf_dir": os.path.realpath(sf_dir)}
    cfg_path = os.path.join(out_dir, "_job_config.json")
    if null_sink:
        pass  # compute-only: no resume state of any kind
    elif os.path.exists(cfg_path):
        with open(cfg_path) as f:
            prev_cfg = json.load(f)
        # pre-r6 sidecars lack sf_dir: compare only the keys they pinned
        chk = {k: v for k, v in cfg.items() if k in prev_cfg}
        if prev_cfg != chk:
            raise ValueError(
                f"resume config mismatch: out_dir was written with "
                f"{prev_cfg}, this run requests {chk} — use a fresh "
                f"--out or repeat the original parameters"
            )
    else:
        # temp-file + rename: a crash mid-write must not leave a
        # truncated sidecar that poisons every future resume
        _write_atomic(cfg_path, json.dumps(cfg).encode())
    done, attempts = (set(), {}) if null_sink else _lineage_state(lineage_dir)
    pending = [b for b in range(n_buckets) if b not in done]
    # record that this run is attempting the pending buckets BEFORE
    # doing the work: a crash mid-group leaves 'attempted' rows, so
    # the next run's lineage shows the true attempt count
    if pending and not null_sink:
        attempts |= {b: attempts.get(b, 0) + 1 for b in pending}
        _write_lineage(
            lineage_dir, [(b, "attempted", 0, 0, 0, 0, attempts[b]) for b in pending]
        )
    bucket = _bucket(n_buckets)
    sc = spark.sparkContext
    processed = 0
    for i in range(0, len(pending), buckets_per_commit):
        group = pending[i : i + buckets_per_commit]
        t0 = time.monotonic()
        # names the group's jobs (its corpus schema read and its
        # write) in the UI and the event log
        sc.setJobDescription(f"extract_job buckets {group}")
        try:
            extracted, bytes_in = _group_frame(
                spark, sf_dir, group, n_buckets, variant, replicate
            )
            if null_sink:
                # compute-only twin: the SAME per-group plan (corpus
                # scan, bucket filter, salt, generate, extract)
                # discarded through the noop datasource — no data, no
                # lineage
                extracted.withColumn("bucket", bucket).write.format(
                    "noop"
                ).mode("overwrite").save()
                processed += len(group)
                continue
            counts = commit_observed(
                extracted, spark, data_dir, "bucket", bucket, group
            )
        finally:
            sc.setJobDescription(None)
        if fail_before_commit and fail_after is not None and (
            processed + len(group) >= fail_after
        ):
            raise RuntimeError(
                f"injected failure after data write, before lineage commit "
                f"(buckets {group})"
            )
        wall_ms = int((time.monotonic() - t0) * 1000)
        b_in = bytes_in.get
        # empty buckets still need a done row so resume skips them
        _write_lineage(
            lineage_dir,
            [(b, "done", counts[b][0], b_in[f"b{b}"] or 0, counts[b][1], wall_ms,
              attempts.get(b, 1))
             for b in group],
        )
        processed += len(group)
        if fail_after is not None and processed >= fail_after:
            raise RuntimeError(f"injected failure after {processed} buckets")
    return processed
