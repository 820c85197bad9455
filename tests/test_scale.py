"""Scale mechanics: spread plan shape + checkpoint/lineage resume
(kill-and-rerun must not recompute completed buckets) — north_rule
'resumable from checkpoint with per-partition lineage + metrics'."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from conftest import SF_SMOKE
from pdfspark.engine import generate_payloads, load_documents
from pdfspark.scale import (
    LINEAGE_SCHEMA, _group_frame, _write_lineage, completed_buckets,
    run_checkpointed, spread_docs,
)


def test_spread_docs_spreads_partitions(spark):
    docs = load_documents(spark, SF_SMOKE).limit(64).select("doc_id", "text")
    spread = generate_payloads(spread_docs(docs), "classic", ensure=False)
    assert spread.rdd.getNumPartitions() == 8
    sizes = (
        spread.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    # no single partition should hold everything
    assert max(r["count"] for r in sizes) < 64


def test_checkpoint_resume_after_kill(spark, tmp_path):
    out = str(tmp_path / "ckpt")
    # first run crashes after 4 buckets committed
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(
            spark, SF_SMOKE, out, n_buckets=8, buckets_per_commit=2, fail_after=4
        )
    done_first = completed_buckets(os.path.join(out, "lineage"))
    assert len(done_first) == 4

    # rerun: only the remaining buckets are processed
    n2 = run_checkpointed(spark, SF_SMOKE, out, n_buckets=8, buckets_per_commit=2)
    assert n2 == 4
    done = completed_buckets(os.path.join(out, "lineage"))
    assert done == set(range(8))

    # third run: nothing left to do
    assert run_checkpointed(spark, SF_SMOKE, out, n_buckets=8) == 0

    # output covers every document exactly once
    spans = spark.read.parquet(os.path.join(out, "spans"))
    n_docs = load_documents(spark, SF_SMOKE).count()
    assert spans.select("doc_id").distinct().count() == n_docs
    assert spans.count() == n_docs  # one row per doc

    # lineage metrics are real
    lin = spark.read.parquet(os.path.join(out, "lineage"))
    row = lin.agg(F.sum("doc_count").alias("d"), F.sum("spans_out").alias("s")).first()
    assert row.d == n_docs and row.s > 0
    # per bucket: doc_count and spans_out equal a read-back of the
    # bucket's written partition, bytes_in the payload bytes generated
    # for its documents
    done = {r.bucket: (r.doc_count, r.spans_out, r.bytes_in)
            for r in lin.where(F.col("status") == "done").collect()}
    read_back = spans.groupBy("bucket").agg(
        F.count("*").alias("d"), F.sum(F.size("spans")).alias("s")
    )
    bucket = F.pmod(F.xxhash64("doc_id"), F.lit(8)).cast("int")
    payload_bytes = (
        generate_payloads(load_documents(spark, SF_SMOKE), "mixed")
        .groupBy(bucket.alias("bucket"))
        .agg(F.sum(F.length("payload")).alias("b"))
    )
    expect = {r.bucket: (r.d, r.s, r.b)
              for r in read_back.join(payload_bytes, "bucket").collect()}
    assert done == expect

    # an empty bucket still gets a done row, of zeros
    one_doc = str(tmp_path / "one_doc")
    load_documents(spark, SF_SMOKE).limit(1).write.parquet(f"{one_doc}/documents.parquet")
    out1 = str(tmp_path / "ckpt_one")
    assert run_checkpointed(spark, one_doc, out1, n_buckets=4) == 4
    lin1 = spark.read.parquet(os.path.join(out1, "lineage")).where(F.col("status") == "done")
    rows = {r.bucket: (r.doc_count, r.bytes_in, r.spans_out) for r in lin1.collect()}
    assert set(rows) == {0, 1, 2, 3}
    assert sorted(d for d, _, _ in rows.values()) == [0, 0, 0, 1]
    assert sum(v == (0, 0, 0) for v in rows.values()) == 3


def test_crash_between_data_write_and_lineage_commit(spark, tmp_path):
    """The non-atomic window: span data committed, lineage row not.
    Resume must REWRITE (partition overwrite), not append — exactly
    one row per doc at the end, never duplicates."""
    out = str(tmp_path / "ckpt_window")
    with pytest.raises(RuntimeError, match="before lineage commit"):
        run_checkpointed(
            spark, SF_SMOKE, out, n_buckets=8, buckets_per_commit=2,
            fail_after=2, fail_before_commit=True,
        )
    # the crashed group's data IS on disk but its lineage row is not
    done_first = completed_buckets(os.path.join(out, "lineage"))
    assert len(done_first) == 0
    assert spark.read.parquet(os.path.join(out, "spans")).count() > 0

    n2 = run_checkpointed(spark, SF_SMOKE, out, n_buckets=8, buckets_per_commit=2)
    assert n2 == 8  # every bucket reprocessed (none had committed lineage)

    spans = spark.read.parquet(os.path.join(out, "spans"))
    n_docs = load_documents(spark, SF_SMOKE).count()
    assert spans.count() == n_docs  # no duplicates from the rewrite
    assert spans.select("doc_id").distinct().count() == n_docs


def test_skew_large_docs_spread_across_partitions(spark, tmp_path):
    """skew_large family (FIXTURES §3): 0.1%-style oversized docs must
    not concentrate: after spread_docs (and the generation it
    pipelines into), no partition should carry more than ~2 of the 8
    planted giants (their doc_ids hash to different partitions), and
    the byte-heaviest partition must hold well under the giants'
    combined weight."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(40)
    giants = (
        docs.limit(8)
        .withColumn("doc_id", F.col("doc_id") + 900000)
        .withColumn("text", F.expr("repeat(text, 120)"))  # ~100-200× spans
    )
    both = docs.unionByName(giants).select("doc_id", "text")
    spread = generate_payloads(spread_docs(both), "classic", ensure=False)
    per_part = (
        spread.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(
            F.sum(F.length("payload")).alias("bytes"),
            F.sum((F.col("doc_id") >= 900000).cast("int")).alias("giants"),
        )
        .collect()
    )
    assert sum(r.giants for r in per_part) == 8
    assert max(r.giants for r in per_part) <= 3  # hashed spread
    total = sum(r.bytes for r in per_part)
    assert max(r.bytes for r in per_part) < 0.55 * total


def _plan_nodes(plan) -> list[str]:
    """Physical operator names, depth-first from the root, looking
    through adaptive wrappers and query stages."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _plan_nodes(plan.executedPlan())
    if name.endswith("QueryStageExec"):
        return _plan_nodes(plan.plan())
    kids = plan.children()
    return [name] + [n for i in range(kids.size()) for n in _plan_nodes(kids.apply(i))]


def test_group_frame_plan_has_one_exchange_below_generate(spark):
    """The checkpointed job's per-group plan is the flagship shape:
    exactly one shuffle (of text rows) below the generate stage, and
    generate → extract pipelined with no Exchange between them. Plain
    generate_payloads at its default has the same one shuffle below
    it: generation spreads its own input."""
    df, _ = _group_frame(spark, SF_SMOKE, [0, 1], 4, "mixed", 1)
    df.collect()  # run it, so the adaptive plan is the final one
    nodes = _plan_nodes(df._jdf.queryExecution().executedPlan())
    assert nodes.count("ShuffleExchangeExec") == 1, nodes
    extract_at, gen_at = [i for i, n in enumerate(nodes) if n == "MapInPandasExec"]
    assert extract_at < gen_at < nodes.index("ShuffleExchangeExec"), nodes
    assert not any("Exchange" in n for n in nodes[extract_at:gen_at]), nodes

    gen = generate_payloads(load_documents(spark, SF_SMOKE), "classic")
    gen.collect()
    nodes = _plan_nodes(gen._jdf.queryExecution().executedPlan())
    assert nodes.count("ShuffleExchangeExec") == 1, nodes
    assert nodes.index("MapInPandasExec") < nodes.index("ShuffleExchangeExec"), nodes


def test_per_document_stages_read_doc_id_spread(spark):
    """One partitioning step in front of every per-document stage over
    the corpus: the HTML stage, the MinHash signature stage and the
    contamination training-gram explode all read the doc_id
    repartition of the text rows that generation reads. The first two
    have no other Exchange; the contamination benchmark grams explode
    the raw scan and shuffle only in their distinct, and the count per
    training document rides the doc_id partitioning with no Exchange
    of its own."""
    from pdfspark.ops import curate, dedup, html

    for df, exchanges in (
        (html.html_main_text(spark, SF_SMOKE), 1),
        (dedup.minhash_signatures(load_documents(spark, SF_SMOKE)), 1),
        (curate.benchmark_contamination(spark, SF_SMOKE), 2),
    ):
        df.collect()  # run it, so the adaptive plan is the final one
        plan = df._jdf.queryExecution().executedPlan()
        assert "hashpartitioning(doc_id" in plan.toString(), plan.toString()
        nodes = _plan_nodes(plan)
        assert nodes.count("ShuffleExchangeExec") == exchanges, nodes


def test_lineage_rows_keep_schema_and_old_lineage_resumes(spark, tmp_path):
    """Lineage written by the driver has exactly the LINEAGE_SCHEMA
    parquet types, and Spark reads it back as LINEAGE_SCHEMA. A lineage
    directory written by Spark's parquet writer (with its ``_SUCCESS``
    and ``.crc`` files) still drives resume: its done buckets are
    skipped, and both kinds of file read back together. A leftover
    temp file from a crashed write is ignored by both readers."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    new_dir = str(tmp_path / "new_lineage")
    _write_lineage(new_dir, [(0, "done", 1, 2, 3, 4, 1)])
    written = pq.read_table(new_dir).schema
    assert {f.name: f.type for f in written} == {
        "bucket": pa.int32(), "status": pa.string(), "doc_count": pa.int64(),
        "bytes_in": pa.int64(), "spans_out": pa.int64(), "wall_ms": pa.int64(),
        "attempt": pa.int32(),
    }
    assert spark.read.parquet(new_dir).schema.simpleString() == (
        "struct<bucket:int,status:string,doc_count:bigint,bytes_in:bigint,"
        "spans_out:bigint,wall_ms:bigint,attempt:int>"
    )

    out = str(tmp_path / "old")
    lineage = os.path.join(out, "lineage")
    spark.createDataFrame(
        [(0, "done", 0, 0, 0, 7, 1), (1, "done", 0, 0, 0, 7, 1)], LINEAGE_SCHEMA
    ).coalesce(1).write.parquet(lineage)
    assert "_SUCCESS" in os.listdir(lineage)
    assert any(f.endswith(".crc") for f in os.listdir(lineage))
    with open(os.path.join(lineage, ".part-crashed.parquet.tmp"), "wb") as f:
        f.write(b"PAR1 truncated")
    assert run_checkpointed(spark, SF_SMOKE, out, n_buckets=4) == 2
    assert completed_buckets(lineage) == {0, 1, 2, 3}
    # 2 old done rows + 2 attempted + 2 done
    assert spark.read.parquet(lineage).count() == 6
    spans = spark.read.parquet(os.path.join(out, "spans"))
    assert {r.bucket for r in spans.select("bucket").distinct().collect()} == {2, 3}


def test_iceberg_dispatch_mocked(spark, monkeypatch):
    """Dress rehearsal for a jar-equipped cluster: with the catalog
    'present', the commit must route through DataFrameWriterV2
    (writeTo().overwritePartitions()) and never touch the parquet
    fallback."""
    import pdfspark.scale as scale

    calls = []

    class FakeWriter:
        def __init__(self, target):
            self.target = target

        def overwritePartitions(self):
            calls.append(("overwritePartitions", self.target))

    monkeypatch.setattr(scale, "have_iceberg", lambda s: True)
    df = spark.range(3)
    monkeypatch.setattr(
        type(df), "writeTo", lambda self, t: FakeWriter(t), raising=True
    )
    scale.overwrite_partitions(df, spark, "iceberg.db.spans", "bucket")
    assert calls == [("overwritePartitions", "iceberg.db.spans")]


def test_lineage_attempt_counter(spark, tmp_path):
    from pdfspark.scale import bucket_attempts

    out = str(tmp_path / "att")
    with pytest.raises(RuntimeError):
        run_checkpointed(spark, SF_SMOKE, out, n_buckets=4,
                         buckets_per_commit=2, fail_after=2)
    # crashed run: 2 buckets done (attempt 1), 2 left 'attempted'
    att = bucket_attempts(os.path.join(out, "lineage"))
    assert set(att) == {0, 1, 2, 3} and set(att.values()) == {1}
    run_checkpointed(spark, SF_SMOKE, out, n_buckets=4)
    lin = spark.read.parquet(os.path.join(out, "lineage"))
    done = {r.bucket: r.attempt for r in lin.where(F.col("status") == "done").collect()}
    assert len(done) == 4
    # the two buckets finished on the second run carry attempt 2
    assert sorted(done.values()) == [1, 1, 2, 2]


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Bucketing evidence for the 100 TB co-located-join story: two
    tables bucketed+sorted on the join key must SortMergeJoin with
    ZERO Exchange (and zero Sort) in the physical plan — the shuffle
    happens once at write time, then every future join on that key is
    free. (Broadcast is suppressed with a merge hint so the test pins
    the bucketed path, not the small-table shortcut.)"""
    docs = load_documents(spark, SF_SMOKE).select("doc_id", "text")
    dim = load_documents(spark, SF_SMOKE).select("doc_id", "n_chars")
    try:
        docs.write.bucketBy(8, "doc_id").sortBy("doc_id").mode(
            "overwrite"
        ).saveAsTable("tb_docs")
        dim.write.bucketBy(8, "doc_id").sortBy("doc_id").mode(
            "overwrite"
        ).saveAsTable("tb_dim")
        joined = (
            spark.table("tb_docs")
            .hint("merge")
            .join(spark.table("tb_dim"), "doc_id")
        )
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = joined._jdf.queryExecution().explainString(mode)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # correctness too: every doc matched exactly once
        assert joined.count() == docs.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS tb_docs")
        spark.sql("DROP TABLE IF EXISTS tb_dim")


def test_checkpointed_replicate_scales_rows(spark, tmp_path):
    """--replicate K (r5, the deployment-surface scaling knob):
    in-plan corpus replication doubles the extracted span rows
    deterministically and keeps resume semantics (second run is a
    no-op)."""
    from pdfspark.scale import run_checkpointed

    out1 = str(tmp_path / "base")
    out2 = str(tmp_path / "repl")
    run_checkpointed(spark, SF_SMOKE, out1, n_buckets=4)
    run_checkpointed(spark, SF_SMOKE, out2, n_buckets=4, replicate=2)
    base = spark.read.parquet(f"{out1}/spans").count()
    repl = spark.read.parquet(f"{out2}/spans").count()
    assert repl == 2 * base
    assert run_checkpointed(spark, SF_SMOKE, out2, n_buckets=4, replicate=2) == 0


def test_checkpointed_resume_config_guard(spark, tmp_path):
    """A resume with different corpus-shaping parameters must be
    REFUSED (it would silently mix scales/variants across buckets);
    identical parameters resume as a no-op."""
    import pytest as _pytest

    from pdfspark.scale import run_checkpointed

    out = str(tmp_path / "guarded")
    run_checkpointed(spark, SF_SMOKE, out, n_buckets=2, replicate=2)
    assert run_checkpointed(spark, SF_SMOKE, out, n_buckets=2, replicate=2) == 0
    with _pytest.raises(ValueError, match="resume config mismatch"):
        run_checkpointed(spark, SF_SMOKE, out, n_buckets=2, replicate=4)
    with _pytest.raises(ValueError, match="resume config mismatch"):
        run_checkpointed(spark, SF_SMOKE, out, n_buckets=2, variant="classic",
                         replicate=2)


def test_checkpointed_resume_guard_pins_sf_dir(spark, tmp_path):
    """r6 (ADVICE): resuming against a DIFFERENT --sf-dir must be
    refused too — mixed corpora across buckets is the same silent
    failure as a variant mismatch. Also: the sidecar must be valid
    JSON (written via temp+rename, never truncated)."""
    import json

    import pytest as _pytest

    from pdfspark.scale import run_checkpointed

    out = str(tmp_path / "sfguard")
    run_checkpointed(spark, SF_SMOKE, out, n_buckets=2)
    with open(f"{out}/_job_config.json") as f:
        cfg = json.load(f)
    assert cfg["sf_dir"] == os.path.realpath(SF_SMOKE)
    other = tmp_path / "othersf"
    other.mkdir()
    os.symlink(
        os.path.join(SF_SMOKE, "documents.parquet"),
        other / "documents.parquet",
    )
    with _pytest.raises(ValueError, match="resume config mismatch"):
        run_checkpointed(spark, str(other), out, n_buckets=2)
    # pre-r6 sidecar (no sf_dir) still resumes on matching legacy keys
    with open(f"{out}/_job_config.json", "w") as f:
        json.dump({k: cfg[k] for k in ("replicate", "variant", "n_buckets")}, f)
    assert run_checkpointed(spark, SF_SMOKE, out, n_buckets=2) == 0


def test_null_sink_runs_plan_without_output(spark, tmp_path):
    """r6 (--sink null): the identical pipeline plan through the noop
    datasource — nothing written, no resume state, full compute."""
    from pdfspark.scale import run_checkpointed

    out = str(tmp_path / "nullsink")
    n = run_checkpointed(spark, SF_SMOKE, out, n_buckets=4, sink="null")
    assert n == 4
    assert not os.path.exists(out)  # no sidecar, no spans, no lineage


def test_commit_group_writes_carry_job_description(spark, tmp_path):
    """Each commit group's write jobs run under the description
    ``extract_job buckets [..]`` (read back from Spark's own job
    status store), and the description is cleared after the run."""
    sc = spark.sparkContext
    jvm_sc = sc._jsc.sc()

    def descriptions():
        jvm_sc.listenerBus().waitUntilEmpty()
        jobs = jvm_sc.statusStore().jobsList(None)
        out = {}
        for i in range(jobs.size()):
            job = jobs.apply(i)
            d = job.description()
            out[job.jobId()] = d.get() if d.isDefined() else None
        return out

    before = set(descriptions())
    out = str(tmp_path / "described")
    assert run_checkpointed(spark, SF_SMOKE, out, n_buckets=4, buckets_per_commit=2) == 4
    new = {d for j, d in descriptions().items() if j not in before}
    groups = {"extract_job buckets [0, 1]", "extract_job buckets [2, 3]"}
    assert new == groups  # lineage I/O runs no Spark job
    assert sc.getLocalProperty("spark.job.description") is None


def _job_ids(spark) -> set[int]:
    jvm_sc = spark.sparkContext._jsc.sc()
    jvm_sc.listenerBus().waitUntilEmpty()
    jobs = jvm_sc.statusStore().jobsList(None)
    return {jobs.apply(i).jobId() for i in range(jobs.size())}


def test_resume_of_finished_out_dir_runs_no_spark_job(spark, tmp_path):
    """Resuming a finished out_dir reads the sidecar and the lineage on
    the driver and processes nothing: it starts no Spark job. The same
    directory named as a ``file:`` URI resumes the same way."""
    out = str(tmp_path / "finished")
    assert run_checkpointed(spark, SF_SMOKE, out, n_buckets=2) == 2
    before = _job_ids(spark)
    assert run_checkpointed(spark, SF_SMOKE, out, n_buckets=2) == 0
    assert run_checkpointed(spark, SF_SMOKE, f"file://{out}", n_buckets=2) == 0
    assert completed_buckets(f"file://{out}/lineage") == {0, 1}
    assert _job_ids(spark) == before


def test_remote_out_dir_is_refused(spark, tmp_path, monkeypatch):
    """Lineage and the config sidecar live on the driver's filesystem,
    so an out_dir with any URI scheme but ``file:`` raises ValueError
    before any Spark job runs and before any directory is created."""
    from pdfspark.ops.streaming import run_streaming_extraction_to_table

    monkeypatch.chdir(tmp_path)
    before = _job_ids(spark)
    for out in ("s3a://bucket/out", "hdfs://namenode/out"):
        with pytest.raises(ValueError, match="driver's filesystem"):
            run_checkpointed(spark, SF_SMOKE, out, n_buckets=2)
        with pytest.raises(ValueError, match="driver's filesystem"):
            run_streaming_extraction_to_table(spark, str(tmp_path / "landing"), out)
    assert os.listdir(tmp_path) == []
    assert _job_ids(spark) == before
