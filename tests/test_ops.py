"""Ops-layer tests: LSH recall vs brute force, streaming/batch
equivalence, stateful operator, multimodal stub contract, dedup
behavior on constructed duplicates."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from conftest import SF_SMOKE
from pdfspark.ops import ann, dedup, multimodal, relational, streaming


def test_lsh_recall_vs_bruteforce(spark):
    brute = {
        (r.query_id, r.neighbor_id)
        for r in ann.ann_cosine_topk(spark, SF_SMOKE).collect()
    }
    lsh = {
        (r.query_id, r.neighbor_id)
        for r in ann.ann_lsh_topk(spark, SF_SMOKE).collect()
    }
    # 8-bit buckets on 500 random vectors: sparse buckets → modest
    # recall is expected; the operator contract is (a) nonempty, (b)
    # every LSH hit whose pair is in the brute set respects rank order
    assert lsh
    recall = len(brute & lsh) / len(brute)
    assert recall >= 0.25, f"suspiciously low LSH recall {recall}"


def test_streaming_windowed_agg_equals_batch(spark):
    got = streaming.run_windowed_counts_to_memory(spark, SF_SMOKE, "t_win")
    batch = relational.events_window_agg(spark, SF_SMOKE)
    a = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert a == b


def test_streaming_append_mode_emits_closed_windows(spark):
    """Production posture (r5): append mode + watermark eviction to a
    FILE sink holds exactly the batch twin's CLOSED windows (win_end
    <= max(ts) - 10 min) — bounded state, one emit per window; open
    windows within the watermark horizon are withheld."""
    import datetime

    got = streaming.stream_append_counts(spark, SF_SMOKE)
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    wm = ev.agg(F.max("ts")).first()[0] - datetime.timedelta(minutes=10)
    batch = relational.events_window_agg(spark, SF_SMOKE)
    closed = batch.where(
        F.col("win_start") + F.expr("INTERVAL 5 MINUTES") <= F.lit(wm)
    )
    a = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in closed.collect()}
    assert a == b
    # bounded state: the open tail (windows inside the watermark
    # horizon) was genuinely withheld, not flushed
    assert batch.count() > len(b)


def test_stateful_user_counts(spark):
    got = streaming.run_stateful_counts_to_memory(spark, SF_SMOKE, "t_state")
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    expected = {
        (r.user_id, r.cnt) for r in ev.groupBy("user_id").agg(F.count("*").alias("cnt")).collect()
    }
    # final state row per user (memory sink holds updates; take last)
    final = {
        (r.user_id, r.n_events)
        for r in got.groupBy("user_id").agg(F.max("n_events").alias("n_events")).collect()
    }
    assert final == expected


def test_decode_real_is_stub():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image_real(b"\xff\xd8")


def test_fake_decode_deterministic():
    from pdfspark.codec import _media_stub_bytes

    p = _media_stub_bytes("mdeadbeef00000000")
    a, b = multimodal._fake_decode(p), multimodal._fake_decode(p)
    assert a == b and a["fmt"] == "jpeg" and 1 <= a["width"] <= 1024


def test_dedup_exact_finds_planted_duplicates(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(20)
    dup = docs.withColumn("doc_id", F.col("doc_id") + 100000)
    both = docs.unionByName(dup)
    path = str(tmp_path / "dup_docs")
    both.write.parquet(f"{path}/documents.parquet")
    out = dedup.dedup_exact(spark, path)
    rows = out.collect()
    assert sum(r.is_dup for r in rows) == 20
    for r in rows:
        assert r.cluster_id == min(r.doc_id, r.doc_id - 100000 if r.doc_id >= 100000 else r.doc_id)


def test_minhash_detects_planted_neardup(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(10)
    # near-duplicate: append one word — Jaccard stays ≥ 0.5
    near = docs.withColumn("doc_id", F.col("doc_id") + 500000).withColumn(
        "text", F.concat("text", F.lit(" tail"))
    )
    both = docs.unionByName(near)
    path = str(tmp_path / "near_docs")
    both.write.parquet(f"{path}/documents.parquet")
    pairs = {
        (r.a_id, r.b_id) for r in dedup.dedup_minhash_pairs(spark, path).collect()
    }
    planted = {(r.doc_id, r.doc_id + 500000) for r in docs.collect()}
    found = planted & pairs
    assert len(found) >= len(planted) * 0.6  # banding probability bound


def test_streaming_sink_exactly_once_after_kill(spark, tmp_path):
    """foreachBatch production sink: crash in the data-written/
    lineage-pending window, restart, and the replayed batch must
    REPLACE its partition (same batch_id + overwrite) — final table
    equals the batch pipeline exactly, no duplicates."""
    import pytest as _pytest

    from pdfspark.engine import generate_payloads, load_documents, synth_spans_df
    from pdfspark.ops.streaming import run_streaming_extraction_to_table

    docs = load_documents(spark, SF_SMOKE).limit(60)
    payloads = generate_payloads(synth_spans_df(docs), "classic")
    landing = str(tmp_path / "landing")
    payloads.repartition(3).write.parquet(landing)  # 3 files → 3 batches
    out = str(tmp_path / "stream_out")

    with _pytest.raises(RuntimeError, match="injected failure|streaming query failed"):
        run_streaming_extraction_to_table(spark, landing, out, fail_after_batches=1)
    # the crash window left data for the failed batch but no lineage
    import os

    assert os.path.isdir(os.path.join(out, "spans"))
    assert not os.path.isdir(os.path.join(out, "lineage"))

    n2 = run_streaming_extraction_to_table(spark, landing, out)
    assert n2 >= 3  # replayed batch + the rest

    from pdfspark.engine import extract_flat, spans_rows

    got = spans_rows(spark.read.parquet(os.path.join(out, "spans")))

    expect = extract_flat(payloads)
    assert got.count() == expect.count()  # no duplicate rows
    assert (
        got.select("doc_id", "offset").distinct().count()
        == expect.select("doc_id", "offset").distinct().count()
    )
    lin = spark.read.parquet(os.path.join(out, "lineage"))
    assert lin.where(F.col("status") == "done").count() == n2
    assert lin.agg(F.sum("rows_out")).first()[0] == expect.count()
    # lineage is partition-overwritten by batch_id: a replayed batch
    # REPLACES its row — consumers never see duplicate batch rows
    assert lin.count() == lin.select("batch_id").distinct().count()


def test_minhash_degenerate_bucket_capped(spark, monkeypatch):
    """One degenerate LSH bucket (200 identical empty-ish docs) must
    NOT go quadratic: the bucket-frequency cap drops it before the
    self-join, while genuinely near-dup pairs in small buckets
    survive."""
    degenerate = [(i, "boilerplate") for i in range(200)]
    real = [(1000, "alpha beta gamma delta epsilon"),
            (1001, "alpha beta gamma delta epsilon zeta")]
    docs = spark.createDataFrame(degenerate + real, "doc_id long, text string")
    pairs = dedup.minhash_pairs_df(docs).collect()
    got = {(r.a_id, r.b_id) for r in pairs}
    assert (1000, 1001) in got  # real near-dup found
    # no pair from the capped-out degenerate bucket: 200 docs > cap
    assert all(a >= 1000 for a, _ in got), got
    # and without the cap the quadratic pair set WOULD be there
    monkeypatch.setattr(dedup, "BUCKET_CAP", 10**9)
    uncapped = dedup.minhash_pairs_df(docs).collect()
    assert len(uncapped) >= 200 * 199 // 2


def test_minhash_pairs_partition_independent(spark):
    """The verified pair rows do not depend on how the documents are
    partitioned: the signature stage and the verify both read the one
    docs frame, and a repartitioned copy gives the same pairs."""
    base = "alpha beta gamma delta epsilon zeta eta theta " * 3
    rows = [(i, base + f" tail{i % 3}") for i in range(24)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    one = {tuple(r) for r in dedup.minhash_pairs_df(docs).collect()}
    two = {
        tuple(r)
        for r in dedup.minhash_pairs_df(docs.repartition(8, "doc_id")).collect()
    }
    assert one == two and len(one) > 0


def test_set_jaccard_edge_corpus_matches_oracles(spark, tmp_path):
    """The set-based Jaccard counts of dedup_minhash_pairs and
    ngram_jaccard, and the MinHash band rows themselves, equal their
    DuckDB oracles on a crafted corpus: a
    shingle repeated inside one document, texts under 3 words and
    under 3 characters, empty and NULL texts, an unpaired trailing even
    doc_id, and a candidate pair (8, 9) whose Jaccard (5/11) fails the
    ½ cut."""
    import duckdb

    import __spark_entry__

    nato = "alpha bravo charlie delta echo foxtrot golf hotel india juliet".split()
    texts = [
        "the quick brown fox jumps over the lazy dog the quick brown fox",
        "the quick brown fox jumps over the lazy dog today",
        "hello world",
        "hello world",
        "ab",
        "ab",
        "",
        "",
        " ".join(nato),
        " ".join(nato[:7] + ["x0", "x1", "x2"]),
        None,
        None,
        "an unpaired trailing document",
    ]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    path = str(tmp_path / "edge_docs")
    docs.write.parquet(f"{path}/documents.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}/documents.parquet/*.parquet'")
    oracle = __spark_entry__.oracle_sql()
    counts = {}  # query -> {a_id: (n_inter, n_union)}
    for name in ("dedup_minhash_pairs", "ngram_jaccard"):
        got = sorted(map(tuple, getattr(dedup, name)(spark, path).collect()))
        assert got == sorted(con.execute(oracle[name]).fetchall()), name
        counts[name] = {r[0]: r[2:] for r in got}
    pairs = counts["dedup_minhash_pairs"]
    assert pairs[0] == (7, 10)  # doc 0 repeats two shingles: 9 distinct
    assert {2, 4, 6} <= pairs.keys() and 8 not in pairs
    sig = dedup.minhash_signatures(docs)
    sig_oracle = con.execute(
        f"{dedup._bands_cte_sql()} SELECT doc_id, band, band_val FROM bands"
    ).fetchall()
    assert sorted(map(tuple, sig.collect())) == sorted(sig_oracle)
    assert len(sig_oracle) == 11 * dedup.N_BANDS  # no rows for NULL texts
    cand = {
        (r.a, r.b)
        for r in sig.alias("x")
        .join(sig.alias("y"), ["band", "band_val"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .collect()
    }
    assert (8, 9) in cand  # a candidate that the verify rejects
    grams = counts["ngram_jaccard"]
    assert 12 not in grams and grams[10] == (0, 2)


def test_minhash_pairs_plan_reads_documents_once(spark):
    """The verify joins candidate pairs to broadcast shingle sets: the
    final plan scans the documents once (the second set broadcast is a
    reused Exchange), caches nothing and has no sort-merge join."""
    from test_scale import _plan_nodes

    df = dedup.dedup_minhash_pairs(spark, SF_SMOKE)
    df.collect()  # run it, so the adaptive plan is the final one
    nodes = _plan_nodes(df._jdf.queryExecution().executedPlan())
    assert nodes.count("FileSourceScanExec") == 1, nodes
    assert "ReusedExchangeExec" in nodes, nodes
    assert "InMemoryTableScanExec" not in nodes, nodes
    assert "SortMergeJoinExec" not in nodes, nodes


def test_minhash_signatures_plan_is_one_python_stage(spark):
    """The signature is one per-document Python stage over the shingle
    sets: no explode, no per-hash aggregate, and one Exchange, the
    doc_id spread of the text rows in front of the stage."""
    from pdfspark.engine import load_documents
    from test_scale import _plan_nodes

    df = dedup.minhash_signatures(load_documents(spark, SF_SMOKE))
    df.collect()  # run it, so the adaptive plan is the final one
    nodes = _plan_nodes(df._jdf.queryExecution().executedPlan())
    assert nodes.count("MapInPandasExec") == 1, nodes
    assert "GenerateExec" not in nodes, nodes
    assert "HashAggregateExec" not in nodes, nodes
    assert nodes.count("ShuffleExchangeExec") == 1, nodes


def test_dedup_clusters_planted_group(spark, tmp_path):
    """Planted near-dup group + singleton: one cluster labeled by its
    min doc_id, every corpus doc present, singleton labels itself."""
    base = "alpha beta gamma delta epsilon zeta eta theta " * 4
    rows = [(i, (base + " tail" * i).strip()) for i in range(4)]
    rows.append((100, "utterly unrelated content about differential geometry and sheaves"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "cluster_docs")
    docs.write.parquet(f"{path}/documents.parquet")
    out = {r.doc_id: (r.cluster_id, r.is_dup) for r in dedup.dedup_clusters(spark, path).collect()}
    assert len(out) == 5  # every document has a row
    assert out[0] == (0, False)  # representative
    for i in (1, 2, 3):
        assert out[i] == (0, True)
    assert out[100] == (100, False)  # singleton


def test_streaming_extraction_equals_batch(spark, tmp_path):
    """The batch extract kernel under readStream: spans from the
    streaming sink must equal the batch round trip, and a payload that
    fails extraction lands as a status='error' row counted in the
    lineage."""
    from pdfspark.codec import build_pdf
    from pdfspark.engine import (
        PAYLOAD_SCHEMA, generate_payloads, load_documents, spans_rows, synth_spans_df,
    )
    from pdfspark.ops.streaming import run_streaming_extraction_to_table

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    docs = load_documents(spark, SF_SMOKE).limit(30)
    generate_payloads(synth_spans_df(docs), "classic").write.parquet(landing)
    noise_id = 10**9
    spark.createDataFrame(
        [(noise_id, build_pdf(str(noise_id), [], "malformed:noise"))], PAYLOAD_SCHEMA
    ).write.mode("append").parquet(landing)
    run_streaming_extraction_to_table(spark, landing, out)
    table = spark.read.parquet(f"{out}/spans")
    got = spans_rows(table)
    batch = {
        (r.doc_id, r.offset, r.kind, r.text, r.media_ref)
        for r in spark.read.parquet(landing)
        .transform(lambda df: __import__("pdfspark.engine", fromlist=["extract_flat"]).extract_flat(df))
        .collect()
    }
    assert {(r.doc_id, r.offset, r.kind, r.text, r.media_ref) for r in got.collect()} == batch
    assert len(batch) > 0
    assert [r.status for r in table.where(F.col("doc_id") == noise_id).collect()] == ["error"]
    lin = spark.read.parquet(f"{out}/lineage")
    assert lin.agg(F.sum("doc_count")).first()[0] == 31


def test_sketch_aggregates_near_exact(spark):
    """approx_count_distinct / percentile_approx — the sketch layer a
    corpus profiler uses at 10^12 rows; pinned to within tolerance of
    the exact values at test scale."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    row = docs.agg(
        F.approx_count_distinct("source").alias("approx_src"),
        F.countDistinct("source").alias("exact_src"),
        F.percentile_approx("n_chars", 0.5).alias("p50"),
        F.expr("percentile(n_chars, 0.5)").alias("exact_p50"),
    ).first()
    assert abs(row.approx_src - row.exact_src) <= max(2, row.exact_src * 0.05)
    assert abs(row.p50 - row.exact_p50) <= row.exact_p50 * 0.1


def test_text_normalize_scrubs_pii(spark):
    from pdfspark.ops.textstats import text_normalize

    rows = text_normalize(spark, SF_SMOKE).limit(20).collect()
    assert rows
    for r in rows:
        t = r.clean_text
        assert "@example.com" not in t and "https://" not in t
        assert "<EMAIL>" in t and "<URL>" in t and "<PHONE>" in t
        assert r.n_pii >= 3
        assert "  " not in t  # whitespace collapsed


def test_bm25_scores_monotone_in_tf(spark, tmp_path):
    from pdfspark.ops.textstats import bm25_topk

    rows = [(1, "spark spark spark join filler words here"),
            (2, "spark join filler words here and there"),
            (3, "no relevant terms at all in this one")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "bm25_docs")
    docs.write.parquet(f"{path}/documents.parquet")
    got = {r.doc_id: r.score_r5 for r in bm25_topk(spark, path).collect()}
    assert 3 not in got          # no matching terms -> no score
    assert got[1] > got[2] > 0   # higher tf ranks higher


def test_corpus_curate_reasons(spark, tmp_path):
    from pdfspark.ops.curate import corpus_curate

    rows = [
        (1, "the a is and " + "spark data join table scan merge sort batch " * 3),  # kept
        (2, "the a is and " + "spark data join table scan merge sort batch " * 3),  # duplicate of 1
        (3, "der die und nicht der die und nicht der die und nicht"),               # lang=de
        (4, "the a is and spark"),                                                  # too_short
        (5, ("the a is and " + "word " * 96).strip()),                              # low_diversity
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "curate_docs")
    docs.write.parquet(f"{path}/documents.parquet")
    got = {r.doc_id: r.reason for r in corpus_curate(spark, path).collect()}
    assert got == {1: "kept", 2: "duplicate", 3: "lang",
                   4: "too_short", 5: "low_diversity"}


def test_cc_star_chain_logarithmic_rounds(spark):
    """Adversarial-diameter CC (r3): a 1000-node PATH graph needs
    O(diameter)=999 propagation rounds but the large-star/small-star
    variant must finish in O(log n) — and produce the exact labeling
    (every node → component min = 0; odd/even split into two chains
    checks multiple components)."""
    import math

    n = 1000
    docs = spark.range(n).withColumnRenamed("id", "doc_id")
    # two interleaved chains: 0-2-4-..., 1-3-5-... (components min 0, 1)
    edges = spark.createDataFrame(
        [(i, i + 2) for i in range(n - 2)], "a_id long, b_id long"
    )
    labels, rounds = dedup._cc_star(docs, edges)
    got = {r.doc_id: r.lab for r in labels.collect()}
    assert got == {i: i % 2 for i in range(n)}
    assert rounds <= 2 * math.ceil(math.log2(n)) + 4, rounds


def test_cc_star_assorted_graph_labels(spark):
    """The CC engine labels an assorted graph (chain + triangle + vee +
    singletons) with each component's min doc_id."""
    docs = spark.range(30).withColumnRenamed("id", "doc_id")
    e = [(0, 1), (1, 2), (2, 3), (3, 4)]  # chain
    e += [(10, 11), (10, 12), (11, 12)]  # triangle
    e += [(20, 25), (25, 21)]  # vee
    edges = spark.createDataFrame(e, "a_id long, b_id long")
    labels, _ = dedup._cc_star(docs, edges)
    expect = {i: i for i in range(30)}
    expect |= {i: 0 for i in range(5)} | {11: 10, 12: 10} | {21: 20, 25: 20}
    assert {r.doc_id: r.lab for r in labels.collect()} == expect


def test_cc_star_stops_at_star_forest(spark):
    """The path 0-1-2 is a star rooted at 0 after one round, so the
    loop stops after that round."""
    docs = spark.range(3).withColumnRenamed("id", "doc_id")
    edges = spark.createDataFrame([(0, 1), (1, 2)], "a_id long, b_id long")
    labels, rounds = dedup._cc_star(docs, edges)
    assert {r.doc_id: r.lab for r in labels.collect()} == {0: 0, 1: 0, 2: 0}
    assert rounds == 1


def test_skipped_bucket_accounting(spark, tmp_path):
    """dedup_skipped_buckets reports the docs the bucket cap dropped:
    200 identical docs form an over-cap bucket in EVERY band (identical
    signatures), and the accounting must show them."""
    degenerate = [(i, "boilerplate") for i in range(200)]
    real = [(1000, "alpha beta gamma delta epsilon")]
    docs = spark.createDataFrame(degenerate + real, "doc_id long, text string")
    path = str(tmp_path / "skip_docs")
    docs.write.parquet(f"{path}/documents.parquet")
    out = {r.band: r for r in dedup.dedup_skipped_buckets(spark, path).collect()}
    assert len(out) == dedup.N_BANDS
    for band, r in out.items():
        assert r.skipped_buckets == 1, (band, r)
        assert r.docs_in_skipped == 200, (band, r)
    # and a cap-free corpus reports zero skipped everywhere
    clean = dedup.dedup_skipped_buckets(spark, SF_SMOKE).collect()
    assert all(r.skipped_buckets == 0 for r in clean) or any(
        r.docs_in_skipped > 0 for r in clean
    )


def test_corpus_sample_stratified_exact(spark):
    """Deterministic stratified sampling: exact ceil(n/den) per
    stratum, reproducible across invocations, subset of the corpus."""
    import math

    from pdfspark.ops import textstats

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    per_lang = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    s1 = textstats.corpus_sample(spark, SF_SMOKE).collect()
    s2 = textstats.corpus_sample(spark, SF_SMOKE).collect()
    assert sorted(map(tuple, s1)) == sorted(map(tuple, s2))  # no RNG
    got = {}
    for r in s1:
        got[r.lang] = got.get(r.lang, 0) + 1
    assert got == {
        lang: math.ceil(n / textstats.SAMPLE_DEN) for lang, n in per_lang.items()
    }


def test_text_windows_cover_and_overlap(spark):
    """Every token lands in ≥1 window; consecutive windows overlap by
    window-stride tokens; tail window is short but never empty."""
    from pdfspark.ops import textstats

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(150))),  # 150 tokens → 3 windows
         (2, "a b c"),  # short doc → 1 window
         (3, " ".join(f"u{i}" for i in range(64)))],  # exactly one window
        "doc_id long, text string",
    )
    import tempfile

    path = tempfile.mkdtemp()
    docs.write.mode("overwrite").parquet(f"{path}/documents.parquet")
    rows = sorted(
        textstats.text_windows(spark, path).collect(),
        key=lambda r: (r.doc_id, r.win_id),
    )
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert [r.n_tokens for r in by_doc[1]] == [64, 64, 150 - 2 * 48]
    # overlap: window i+1 starts stride tokens in → first 16 tokens of
    # window 1 equal the last 16 of window 0
    w0 = by_doc[1][0].window_text.split(" ")
    w1 = by_doc[1][1].window_text.split(" ")
    assert w0[48:] == w1[:16]
    # full coverage, in order
    # window 2 starts at token 2*48=96; window 1 ends at 48+64=112 →
    # 16-token overlap again
    merged = w0 + w1[16:] + by_doc[1][2].window_text.split(" ")[16:]
    assert merged == [f"t{i}" for i in range(150)]
    assert [r.n_tokens for r in by_doc[2]] == [3]
    assert [r.n_tokens for r in by_doc[3]] == [64]


def test_benchmark_contamination_planted(spark, tmp_path):
    """A training doc that verbatim-copies a benchmark doc's text must
    flag contaminated; an unrelated doc must not; partial overlap
    scores between."""
    from pdfspark.ops import curate

    bench_text = "the quick brown fox jumps over the lazy dog every single day " * 3
    rows = [
        (0, bench_text),  # doc_id % 50 == 0 → benchmark member
        (50, "completely different content about sheaf cohomology and spectra " * 3),
        (1, bench_text),  # verbatim copy → contaminated
        (2, "unrelated words with no shared five gram runs at all here " * 3),
        (3, bench_text[: len(bench_text) // 2] + " then it diverges entirely "
            + "into novel text with fresh vocabulary " * 2),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "contam_docs")
    docs.write.parquet(f"{path}/documents.parquet")
    got = {r.doc_id: r for r in curate.benchmark_contamination(spark, path).collect()}
    assert set(got) == {1, 2, 3}  # benchmark members excluded
    assert got[1].contaminated and got[1].n_hits == got[1].n_grams
    assert not got[2].contaminated and got[2].n_hits == 0
    assert 0 < got[3].n_hits < got[3].n_grams


def test_ivf_recall_vs_bruteforce(spark):
    """IVF at the r5 √N geometry (isqrt(N) trained cells, ceil(nc/2)
    probes): nonempty results, recall vs the exact baseline within the
    expected coarse-quantization band (measured 0.80 at sf0.001, 0.84
    at sf0.1 — pin leaves slack only for geometry-neutral churn), and
    every query survives probing."""
    brute = {
        (r.query_id, r.neighbor_id)
        for r in ann.ann_cosine_topk(spark, SF_SMOKE).collect()
    }
    ivf_rows = ann.ann_ivf_topk(spark, SF_SMOKE).collect()
    ivf = {(r.query_id, r.neighbor_id) for r in ivf_rows}
    assert ivf
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.7, f"suspiciously low IVF recall {recall}"
    # every query returns SOMETHING (probed cells are never all empty:
    # the query's own cell is always among its nearest probes)
    assert {r.query_id for r in ivf_rows} == set(range(ann.N_QUERIES))


def test_ivf_trained_centroids_exact_and_accounted(spark):
    """The integer k-means trainer is BIT-identical to its SQL mirror
    (quantization + all-integer Lloyd rounds), and the per-cell
    accounting query covers the whole corpus with every cell id in
    range."""
    import duckdb
    import numpy as np

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    n_cells, _ = ann._geometry(emb.count())
    C = ann._trained_centroids(emb, n_cells)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{SF_SMOKE}/embeddings.parquet'"
    )
    rows = con.execute(
        "WITH " + ann._kmeans_cent_ctes() + " SELECT cell, c FROM cent ORDER BY cell"
    ).fetchall()
    D = np.array([r[1] for r in rows], dtype=np.float64)
    assert np.array_equal(C, D)
    cells = ann.ann_ivf_cells(spark, SF_SMOKE).collect()
    n_emb = emb.count()
    assert sum(r.n_members for r in cells) == n_emb
    assert all(0 <= r.cell < n_cells for r in cells)


def test_gopher_quality_flags_planted(spark, tmp_path):
    """Each rule trips on a purpose-built doc and a clean doc passes
    them all (integer-exact rule arithmetic)."""
    from pdfspark.ops import textstats

    clean = ("the quick brown fox jumps over a lazy dog and friends "
             "of the pack run along too ") * 3  # >50 words, sane shape
    rows = [
        (0, clean),
        (1, "the and short text"),                       # word count
        (2, "a " * 30 + "the and " + "of " * 30),        # mean len < 3
        (3, clean + " " + "#" * 40),                     # symbol ratio
        (4, clean.replace("fox", "- - - - - - - - - - - - - - fox")),  # bullets
        (5, ("zq " * 26 + "xv " * 26).strip()),          # no stopwords
        (6, clean + " " + "123 " * 60),                  # alpha < 80%
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "gq_docs")
    docs.write.parquet(f"{path}/documents.parquet")
    got = {r.doc_id: r for r in textstats.gopher_quality_flags(spark, path).collect()}
    assert got[0].keep, got[0]
    assert got[1].flag_word_count and not got[1].keep
    assert got[2].flag_mean_word_len and not got[2].keep
    assert got[3].flag_symbol_ratio and not got[3].keep
    assert got[4].flag_bullet_ratio and not got[4].keep
    assert got[5].flag_stopwords and not got[5].keep
    assert got[6].flag_alpha and not got[6].keep


def test_chunk_boilerplate_planted(spark, tmp_path):
    """A shared 80-char chunk counts as boilerplate in every doc that
    carries it; unique-text docs report zero."""
    from pdfspark.ops import dedup as dd

    boiler = "x" * 80  # exactly one chunk, shared verbatim
    rows = [
        (0, boiler + "unique tail zero " * 6),
        (1, boiler + "another different tail entirely " * 4),
        (2, "completely unique text with no shared chunk at all " * 3),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "boiler_docs")
    docs.write.parquet(f"{path}/documents.parquet")
    got = {r.doc_id: r for r in dd.chunk_boilerplate(spark, path).collect()}
    assert got[0].n_boiler == 1 and got[1].n_boiler == 1
    assert got[2].n_boiler == 0 and got[2].boiler_ratio_x1000 == 0
    assert got[0].n_chunks == len(rows[0][1]) // 80 + (1 if len(rows[0][1]) % 80 else 0)


def test_chunk_boilerplate_plan_broadcasts_boiler_keys(spark, tmp_path):
    """Skew-proof plan (r5): even with a chunk planted in EVERY doc (a
    maximally hot join key), the per-doc accounting join must be a
    BroadcastHashJoin of the filtered boiler-key set — no shuffle
    (SortMergeJoin/ShuffledHashJoin) on the skewed chunk column."""
    from pdfspark.ops import dedup as dd

    boiler = "y" * 80
    rows = [(i, boiler + f"unique tail for doc {i} " * 5) for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "hot_docs")
    docs.write.parquet(f"{path}/documents.parquet")
    df = dd.chunk_boilerplate(spark, path)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    got = {r.doc_id: r.n_boiler for r in df.collect()}
    assert all(v == 1 for v in got.values())


def test_jpeg_baseline_decode_real():
    """r5: REAL baseline JPEG decode — canonical Huffman, dequant,
    IDCT, fixed-point YCbCr→RGB. Solid-color payloads roundtrip to
    exactly the fixed-point color (the DCT path is lossless for
    constant blocks under all-ones quant); multi-MCU images exercise
    DC prediction; non-baseline frames fall back to header dims."""
    import hashlib

    from pdfspark.codec import (
        _jpeg_bytes, _jpeg_rgb, _jpeg_ycc, _media_jpeg_bytes,
    )

    for i in range(50):
        ref = f"mjp{i}"
        h = hashlib.md5(ref.encode()).digest()
        m = multimodal.decode_image_real(_media_jpeg_bytes(ref))
        assert m["fmt"] == "jpeg"
        assert (m["width"], m["height"]) == (1 + h[0] % 8, 1 + h[1] % 8)
        exp = _jpeg_rgb(*_jpeg_ycc(h[2], h[3], h[4]))
        assert (m["mean_r"], m["mean_g"], m["mean_b"]) == exp

    # two MCUs, two colors: DC diff coding across MCUs must track
    p = _jpeg_bytes(16, 8, lambda j, i: (255, 0, 0) if i == 0 else (0, 0, 255))
    m = multimodal.decode_image_real(p)
    e1 = _jpeg_rgb(*_jpeg_ycc(255, 0, 0))
    e2 = _jpeg_rgb(*_jpeg_ycc(0, 0, 255))
    exp = tuple((a * 64 + b * 64) // 128 for a, b in zip(e1, e2))
    assert (m["mean_r"], m["mean_g"], m["mean_b"]) == exp

    # an SOF2 frame over a baseline scan (Ss=0/Se=63/Ah=Al=0) is the
    # degenerate progressive case — decodes identically (r7)
    base = _media_jpeg_bytes("mjp0")
    prog = base.replace(b"\xff\xc0", b"\xff\xc2", 1)
    assert (
        multimodal.decode_image_real(prog)
        == multimodal.decode_image_real(base)
    )


def test_jpeg_420_subsampled_decode_real():
    """r8: 4:2:0 chroma subsampling — MCU = 16×16 px with 4 Y blocks
    + Cb + Cr (T.81 A.2.3). Single-MCU solid payloads must land on
    EXACTLY the 4:4:4 twin's pixels (solid chroma survives the
    downsample), and a multi-MCU varying-color image with odd dims
    must equal the per-tile YCbCr roundtrip with pixel-replication
    upsampling + crop — interleaved block order, per-component DC
    prediction and the padded-vs-own grid split all exercised."""
    import numpy as np

    from pdfspark.codec import (
        _jpeg_420_bytes, _jpeg_rgb, _jpeg_ycc, _media_jpeg_420_bytes,
        _media_jpeg_bytes,
    )

    for i in range(50):
        ref = f"mj420_{i}"
        p = _media_jpeg_420_bytes(ref)
        assert b"\x01\x22\x00" in p  # Y sampling 2×2 in SOF
        ms = multimodal.decode_image_real(p)
        mb = multimodal.decode_image_real(_media_jpeg_bytes(ref))
        ms.pop("n_bytes"), mb.pop("n_bytes")
        assert ms == mb

    W, H = 37, 21  # 3×2 MCUs, both axes cropped

    def color(j, i):
        return ((17 * i + 31 * j) % 256, (91 * i + 7 * j) % 256,
                (3 * i + 201 * j) % 256)

    m = multimodal.decode_image_real(_jpeg_420_bytes(W, H, color))
    exp = np.zeros((H, W, 3), dtype=np.int64)
    for j in range((H + 15) // 16):
        for i in range((W + 15) // 16):
            exp[j * 16:(j + 1) * 16, i * 16:(i + 1) * 16] = _jpeg_rgb(
                *_jpeg_ycc(*color(j, i))
            )
    n = W * H
    assert (m["width"], m["height"]) == (W, H)
    assert (m["mean_r"], m["mean_g"], m["mean_b"]) == (
        int(exp[..., 0].sum() // n),
        int(exp[..., 1].sum() // n),
        int(exp[..., 2].sum() // n),
    )


def test_jpeg_restart_interval_decode_real():
    """r8: restart intervals (T.81 F.2.1.3.1). Multi-MCU images with
    DRI must decode to EXACTLY the no-DRI twin's pixels — RSTn
    byte-alignment, modulo-8 marker sequencing (>8 intervals included)
    and the encoder/decoder DC-prediction resets all load-bearing:
    skipping the reset on either side shifts every post-marker DC.
    Single-MCU DRI twins (the driver corpus shape) must equal the
    baseline twin; corrupted marker sequence must fall back to header
    dims, never wrong pixels."""
    from pdfspark.codec import (
        _jpeg_bytes, _jpeg_dri_bytes, _media_jpeg_bytes,
        _media_jpeg_dri_bytes,
    )

    def color(j, i):
        return ((53 * i + 11 * j) % 256, (7 * i + 131 * j) % 256,
                (199 * i + 23 * j) % 256)

    # 6×4 = 24 MCUs: ri=2 → 11 restarts (marker cycle wraps past RST7)
    W, H = 48, 32
    for ri in (1, 2, 5):
        p = _jpeg_dri_bytes(W, H, color, ri=ri)
        assert b"\xff\xdd\x00\x04" in p  # DRI segment present
        assert b"\xff\xd0" in p  # at least one RST0 in the scan
        md = multimodal.decode_image_real(p)
        mb = multimodal.decode_image_real(_jpeg_bytes(W, H, color))
        md.pop("n_bytes"), mb.pop("n_bytes")
        assert md == mb
        assert md["fmt"] == "jpeg" and md["width"] == W

    # driver-corpus twins: single MCU, DRI header only
    for i in range(50):
        ref = f"mjdri_{i}"
        p = _media_jpeg_dri_bytes(ref)
        assert b"\xff\xdd" in p
        md = multimodal.decode_image_real(p)
        mb = multimodal.decode_image_real(_media_jpeg_bytes(ref))
        md.pop("n_bytes"), mb.pop("n_bytes")
        assert md == mb

    # out-of-sequence restart marker → header-dims fallback (the
    # means of a corrupt stream must never be silently wrong)
    p = bytearray(_jpeg_dri_bytes(W, H, color, ri=2))
    k = p.index(b"\xff\xd0", p.index(b"\xff\xda"))
    p[k + 1] = 0xD3  # RST0 → RST3
    m = multimodal.decode_image_real(bytes(p))
    assert (m["width"], m["height"]) == (W, H)
    assert "mean_r" not in m  # header-dims fallback, no fake pixels


def test_jpeg_restart_skips_only_fill_bytes():
    """Before an RSTn marker the decoder may skip FF fill bytes (T.81
    B.1.1.2) and one stuffed FF 00 pad byte, nothing else: those
    decode to the unpadded stream's pixels, while any other byte in
    front of the marker is corrupt data and falls back to header
    dims."""
    from pdfspark.codec import _jpeg_dri_bytes

    W, H = 48, 32
    p = _jpeg_dri_bytes(W, H, lambda j, i: (9 * i, 200 - 5 * j, 77), ri=2)
    k = p.index(b"\xff\xd0", p.index(b"\xff\xda"))
    want = multimodal.decode_image_real(p)
    want.pop("n_bytes")
    assert "mean_r" in want
    for pad in (b"\xff\xff\xff", b"\xff\x00", b"\xff\x00\xff\xff"):
        m = multimodal.decode_image_real(p[:k] + pad + p[k:])
        m.pop("n_bytes")
        assert m == want
    for junk in (b"\x5a", b"\x12\x34\xff\xff", b"\xff\x00\xff\x00"):
        m = multimodal.decode_image_real(p[:k] + junk + p[k:])
        assert (m["width"], m["height"]) == (W, H)
        assert "mean_r" not in m  # header-dims fallback, no fake pixels


def test_jpeg_progressive_decode_real():
    """r7: REAL progressive (SOF2) decode — DC successive
    approximation (first pass Al=1 + raw-LSB refinement), per
    component spectral-selection AC bands with EOBn run accounting.
    The generator's multi-scan payloads must land on EXACTLY the
    baseline twin's pixels (same digest contract); multi-block
    geometries exercise DC prediction across the approximation split
    and EOB runs spanning many blocks."""
    from pdfspark.codec import (
        _jpeg_bytes, _jpeg_progressive_bytes, _media_jpeg_bytes,
        _media_jpeg_progressive_bytes,
    )

    for i in range(50):
        ref = f"mjprog{i}"
        p = _media_jpeg_progressive_bytes(ref)
        assert b"\xff\xc2" in p and p.count(b"\xff\xda") == 8
        mp = multimodal.decode_image_real(p)
        mb = multimodal.decode_image_real(_media_jpeg_bytes(ref))
        mp.pop("n_bytes"), mb.pop("n_bytes")
        assert mp == mb

    # multi-block geometries: EOBn runs cover 2..25 blocks, the DC
    # LSB pass carries a bit per block per component
    for w, h in [(9, 17), (16, 24), (33, 7), (64, 24)]:
        p = _jpeg_progressive_bytes(w, h, lambda j, i: (120, 33, 250))
        b = _jpeg_bytes(w, h, lambda j, i: (120, 33, 250))
        mp = multimodal.decode_image_real(p)
        mb = multimodal.decode_image_real(b)
        mp.pop("n_bytes"), mb.pop("n_bytes")
        assert mp == mb

    # two-color multi-MCU: DC prediction must track through the
    # approximation split (high bits Huffman-coded, LSBs raw)
    p = _jpeg_progressive_bytes(
        16, 8, lambda j, i: (255, 0, 0) if i == 0 else (0, 0, 255)
    )
    b = _jpeg_bytes(
        16, 8, lambda j, i: (255, 0, 0) if i == 0 else (0, 0, 255)
    )
    mp = multimodal.decode_image_real(p)
    mb = multimodal.decode_image_real(b)
    mp.pop("n_bytes"), mb.pop("n_bytes")
    assert mp == mb


def test_decode_image_real_formats():
    """The r4 real decoders: BMP dims/means, PGM/PPM channel stats,
    PCM WAV metadata + peak; codec formats still raise."""
    import struct

    from pdfspark.codec import _media_bmp_bytes
    import hashlib

    ref = "mfeedface01234567"
    h = hashlib.md5(ref.encode()).digest()
    m = multimodal.decode_image_real(_media_bmp_bytes(ref))
    assert m["fmt"] == "bmp"
    assert (m["width"], m["height"]) == (1 + h[0] % 8, 1 + h[1] % 8)
    assert (m["mean_r"], m["mean_g"], m["mean_b"]) == (h[2], h[3], h[4])
    p = multimodal.decode_image_real(b"P6 2 1 255 " + bytes([10, 20, 30, 30, 40, 50]))
    assert (p["mean_r"], p["mean_g"], p["mean_b"]) == (20, 30, 40)
    data = struct.pack("<4h", 100, -300, 200, -100)
    wav = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )
    w = multimodal.decode_image_real(wav)
    assert (w["fmt"], w["sample_rate"], w["n_samples"], w["peak"]) == (
        "wav", 8000, 4, 300,
    )
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        multimodal.decode_image_real(b"\xff\xd8\xff\xe0jpegdata")


def test_png_decode_all_filters_and_generator():
    """Real PNG decode: generator PNGs (None/Up rows) hit the digest
    contract exactly, and a hand-filtered image using ALL FIVE filter
    types round-trips to correct channel means."""
    import hashlib
    import random
    import struct
    import zlib

    import numpy as np

    from pdfspark.codec import _media_png_bytes

    ref = "mpngprobe0001"
    h = hashlib.md5(ref.encode()).digest()
    m = multimodal.decode_image_real(_media_png_bytes(ref))
    assert m["fmt"] == "png"
    assert (m["width"], m["height"]) == (1 + h[0] % 8, 1 + h[1] % 8)
    assert (m["mean_r"], m["mean_g"], m["mean_b"]) == (h[2], h[3], h[4])

    rng = random.Random(5)
    w, ht, ch = 7, 6, 3
    img = np.array(
        [[rng.randrange(256) for _ in range(w * ch)] for _ in range(ht)],
        dtype=np.int64,
    )

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    scan = bytearray()
    for y in range(ht):
        ft = y % 5
        prev = img[y - 1] if y else np.zeros(w * ch, np.int64)
        raw = img[y]
        out = np.zeros(w * ch, np.int64)
        for x in range(w * ch):
            a = raw[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            if ft == 0:
                out[x] = raw[x]
            elif ft == 1:
                out[x] = (raw[x] - a) % 256
            elif ft == 2:
                out[x] = (raw[x] - b) % 256
            elif ft == 3:
                out[x] = (raw[x] - (a + b) // 2) % 256
            else:
                out[x] = (raw[x] - paeth(a, b, c)) % 256
        scan += bytes([ft]) + bytes(out.astype(np.uint8))

    def chunk(t, b):
        return (
            struct.pack(">I", len(b)) + t + b
            + struct.pack(">I", zlib.crc32(t + b) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, ht, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(scan)))
        + chunk(b"IEND", b"")
    )
    m = multimodal._png_decode(png)
    n = w * ht
    exp = tuple(int(img.reshape(ht, w, ch)[:, :, k].sum() // n) for k in range(3))
    assert (m["mean_r"], m["mean_g"], m["mean_b"]) == exp
    assert (m["width"], m["height"]) == (w, ht)


def test_media_wav_generator_decodes_exactly():
    import hashlib

    from pdfspark.codec import _media_wav_bytes

    for ref in ("mwavx", "mwavy"):
        h = hashlib.md5(ref.encode()).digest()
        m = multimodal.decode_image_real(_media_wav_bytes(ref))
        assert m["fmt"] == "wav" and m["n_channels"] == 1
        assert m["sample_rate"] == 8000 + (h[5] % 8) * 1000
        assert m["n_samples"] == 16 + h[6] % 240
        assert m["peak"] == 1 + (h[7] * 117) % 30000


def test_gif_decode_and_lzw_roundtrip():
    """Real GIF decode: generator GIFs match the digest contract;
    the GIF-LZW encoder/decoder pair round-trips arbitrary index
    streams through 12-bit table growth and the table-full clear."""
    import hashlib
    import random

    from pdfspark.codec import _gif_lzw_encode, _media_gif_bytes

    ref = "mgifprobe42"
    h = hashlib.md5(ref.encode()).digest()
    m = multimodal.decode_image_real(_media_gif_bytes(ref))
    assert m["fmt"] == "gif"
    assert (m["width"], m["height"]) == (1 + h[0] % 8, 1 + h[1] % 8)
    assert (m["mean_r"], m["mean_g"], m["mean_b"]) == (h[2], h[3], h[4])

    rng = random.Random(3)
    for min_code in (2, 8):
        nsym = 1 << min_code
        for trial in range(20):
            n = rng.randrange(0, 2500)
            idx = bytes(rng.randrange(nsym) for _ in range(n))
            if trial % 3 == 0:
                idx = (idx[:20] * 200)[:n]
            enc = _gif_lzw_encode(idx, min_code)
            assert bytes(multimodal._gif_lzw_decode(enc, min_code, n)) == idx
    deep = b"abcd" * 4000  # forces the 4096-entry clear
    assert bytes(
        multimodal._gif_lzw_decode(_gif_lzw_encode(deep, 8), 8, len(deep))
    ) == deep

    # both interlace rotations appear in the twin corpus and decode
    # to the identical digest contract (solid pixels: permutation is
    # an identity, but the flag path must parse and run)
    import struct

    seen = set()
    for i in range(20):
        ref = f"mgifint{i}"
        h = hashlib.md5(ref.encode()).digest()
        seen.add(bool(h[7] % 2))
        m = multimodal.decode_image_real(_media_gif_bytes(ref))
        assert (m["mean_r"], m["mean_g"], m["mean_b"]) == (h[2], h[3], h[4])
    assert seen == {True, False}

    # varied-pixel de-interlace pinned: an interlaced GIF whose rows
    # are stored in pass order (0,8.. 4,12.. 2,6.. 1,3..) must decode
    # to the same pixels as its sequential twin
    W, H = 3, 9
    rows = [bytes([r % 4] * W) for r in range(H)]  # row r = palette r%4
    order = (
        list(range(0, H, 8)) + list(range(4, H, 8))
        + list(range(2, H, 4)) + list(range(1, H, 2))
    )
    pal = b"\x10\x20\x30" + b"\x40\x50\x60" + b"\x70\x80\x90" + b"\xa0\xb0\xc0"

    def gif(flag: int, row_seq) -> bytes:
        out = bytearray(b"GIF89a")
        out += struct.pack("<HHBBB", W, H, 0x81, 0, 0)  # GCT, 4 entries
        out += pal
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, W, H, flag)
        out.append(2)  # min code size
        data = _gif_lzw_encode(b"".join(row_seq), 2)
        for k in range(0, len(data), 255):
            blk = data[k : k + 255]
            out.append(len(blk))
            out += blk
        out += b"\x00\x3b"
        return bytes(out)

    seq = multimodal.decode_image_real(gif(0, rows))
    lace = multimodal.decode_image_real(gif(0x40, [rows[r] for r in order]))
    seq.pop("n_bytes"), lace.pop("n_bytes")
    assert lace == seq and lace["height"] == H


def test_tiff_decode_and_jpeg_header():
    """Real TIFF decode (none + LZW + PackBits strips — TIFF-LZW is
    the PDF early-change flavor, PackBits is PDF RunLengthDecode with
    0x80 as no-op filler) and real JPEG SOF header parsing."""
    import hashlib
    import struct

    from pdfspark.codec import _media_tiff_bytes

    seen = set()
    for i in range(30):
        ref = f"mtifx{i}"
        h = hashlib.md5(ref.encode()).digest()
        seen.add(("none", "lzw", "packbits")[h[6] % 3])
        m = multimodal.decode_image_real(_media_tiff_bytes(ref))
        assert m["fmt"] == "tiff"
        assert (m["width"], m["height"]) == (1 + h[0] % 8, 1 + h[1] % 8)
        assert (m["mean_r"], m["mean_g"], m["mean_b"]) == (h[2], h[3], h[4])
    assert seen == {"none", "lzw", "packbits"}

    # hand-built PackBits TIFF with VARIED pixels (literal + repeat
    # runs both exercised) must match its uncompressed twin exactly
    from pdfspark.kernel.filters import rl_encode

    w, ht = 5, 3
    px = bytes((7 * k) % 256 for k in range(w * ht * 3 - 6)) + b"\xaa" * 6

    def tiff(comp: int, strip: bytes) -> bytes:
        ifd_off = 8 + len(strip)
        entries = [
            (256, 3, 1, w), (257, 3, 1, ht), (258, 3, 3, None),
            (259, 3, 1, comp), (262, 3, 1, 2), (273, 4, 1, 8),
            (277, 3, 1, 3), (278, 3, 1, ht), (279, 4, 1, len(strip)),
        ]
        bits_off = ifd_off + 2 + len(entries) * 12 + 4
        out = bytearray(b"II*\x00" + struct.pack("<I", ifd_off)) + strip
        out += struct.pack("<H", len(entries))
        for tag, typ, cnt, val in entries:
            out += struct.pack(
                "<HHII", tag, typ, cnt, bits_off if tag == 258 else val
            )
        out += struct.pack("<I", 0) + struct.pack("<HHH", 8, 8, 8)
        return bytes(out)

    plain = multimodal.decode_image_real(tiff(1, px))
    packed = multimodal.decode_image_real(tiff(32773, rl_encode(px)))
    plain.pop("n_bytes"), packed.pop("n_bytes")
    assert packed == plain and packed["width"] == w
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        + b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 480, 640, 3) + b"\x00" * 3
        + b"\xff\xd9"
    )
    m = multimodal.decode_image_real(jpeg)
    assert (m["fmt"], m["width"], m["height"], m["n_components"]) == (
        "jpeg", 640, 480, 3,
    )


def test_rep_signals_planted(spark, tmp_path):
    """A doc of one repeated 80-char chunk maxes dup_chunk fraction;
    a doc of one repeated word maxes the top-bigram share; unique
    text reports low values (integer-exact floors)."""
    from pdfspark.ops import textstats as ts

    rep_chunk = ("z" * 80) * 4          # 4 identical chunks
    rep_word = "spam " * 39 + "spam"     # 40 identical words
    uniq = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(0, rep_chunk), (1, rep_word), (2, uniq)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "rep_docs")
    docs.write.parquet(f"{path}/documents.parquet")
    got = {r.doc_id: r for r in ts.rep_signals(spark, path).collect()}
    assert got[0].dup_chunk_x1000 == 750   # (4-1)/4
    assert got[1].top_bigram_x1000 == 1000  # all 39 bigrams identical
    assert got[2].dup_chunk_x1000 == 0
    assert got[2].top_bigram_x1000 == 1000 * 1 // 39


def test_pack_sequences_planted(spark, tmp_path):
    """Shard-local concat-then-chunk packing: cumulative token offsets
    place each doc in bin floor(prev_tokens / budget); per-bin token
    and doc accounting is integer-exact."""
    from pdfspark.ops import textstats as ts

    # all docs in shard 0 (doc_id % 64 == 0), 1000 tokens each; bin =
    # floor(cum_before/2048): offsets 0,1000,2000 -> bin 0 (3 docs),
    # 3000,4000 -> bin 1, 5000 -> bin 2
    rows = [(i * 64, "tok " * 999 + "tok") for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "pack_docs")
    docs.write.parquet(f"{path}/documents.parquet")
    got = {
        (r.shard, r.bin): r for r in ts.pack_sequences(spark, path).collect()
    }
    assert set(got) == {(0, 0), (0, 1), (0, 2)}
    for b, nd in ((0, 3), (1, 2), (2, 1)):
        assert got[(0, b)].n_docs == nd
        assert got[(0, b)].n_tokens == nd * 1000
        assert got[(0, b)].fill_x1000 == nd * 1000 * 1000 // 2048
    # plan shape: the window sort is PER-SHARD (partitioned), never a
    # single global partition
    plan = ts.pack_sequences(spark, path)._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan


def test_unigram_rarity_planted(spark, tmp_path):
    """Integer-exact rarity: with a 6-token corpus of {common×5,
    rare×1}, rarity(common) = 6//5 = 1 and rarity(rare) = 6//1 = 6 —
    per-doc means follow by floor arithmetic."""
    from pdfspark.ops import textstats as ts

    docs = spark.createDataFrame(
        [(0, "c c c c"), (1, "c rare")], "doc_id long, text string"
    )
    path = str(tmp_path / "rar_docs")
    docs.write.parquet(f"{path}/documents.parquet")
    got = {r.doc_id: r for r in ts.unigram_rarity(spark, path).collect()}
    assert got[0].n_tokens == 4
    assert got[0].mean_rarity_x1000 == 1000  # all rarity-1 tokens
    # doc 1: (1 + 6) * 1000 // 2
    assert got[1].mean_rarity_x1000 == 3500


def test_dedup_incremental_planted(spark, tmp_path):
    """Re-crawl semantics: a doc whose normalized text matches a
    prior-snapshot (even doc_id) doc is marked known via the
    FINGERPRINT join, not the id — including odd-id re-fetches of
    even-id content; genuinely new content stays unknown."""
    from pdfspark.ops import dedup as dd

    docs = spark.createDataFrame(
        [
            (0, "Shared   Content"),   # prior snapshot (even)
            (2, "other even text"),    # prior snapshot
            (1, "shared content"),     # odd re-fetch, normalizes equal to 0
            (3, "brand new content"),  # genuinely new
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "inc_docs")
    docs.write.parquet(f"{path}/documents.parquet")
    got = {r.doc_id: r.is_known for r in dd.dedup_incremental(spark, path).collect()}
    assert got == {0: 1, 2: 1, 1: 1, 3: 0}


def test_jpeg_malformed_falls_back_to_header_dims():
    """A structurally broken baseline JPEG (missing DQT, truncated
    scan) must degrade to header-only dims — never escape with
    KeyError/IndexError and kill a permissive batch; degenerate 0×0
    frames reject cleanly too."""
    import struct

    from pdfspark.codec import _media_jpeg_bytes

    p = _media_jpeg_bytes("mjperr")
    # strip the DQT segment: FFDB len 0x0043
    i = p.index(b"\xff\xdb")
    (seglen,) = struct.unpack_from(">H", p, i + 2)
    no_dqt = p[:i] + p[i + 2 + seglen:]
    m = multimodal.decode_image_real(no_dqt)
    assert m["fmt"] == "jpeg" and "mean_r" not in m  # header fallback
    # truncated entropy data
    m2 = multimodal.decode_image_real(p[: len(p) - 4])
    assert m2["fmt"] == "jpeg" and "mean_r" not in m2
    # 0-height SOF
    j = p.index(b"\xff\xc0")
    zero_h = bytearray(p)
    struct.pack_into(">H", zero_h, j + 5, 0)
    m3 = multimodal.decode_image_real(bytes(zero_h))
    assert "mean_r" not in m3


def test_avi_video_decode_real():
    """r6: AVI container roundtrip — both codecs (uncompressed DIB and
    MJPEG) decode to the generator's per-frame shifted colors; MJPEG
    means are the fixed-point YCbCr roundtrip of those colors."""
    import hashlib

    from pdfspark.codec import _jpeg_rgb, _jpeg_ycc, _media_avi_bytes

    seen = set()
    for i in range(24):
        mref = f"vid{i:08x}"
        h = hashlib.md5(mref.encode()).digest()
        m = multimodal.decode_image_real(_media_avi_bytes(mref))
        seen.add(m["codec"])
        assert m["fmt"] == "avi"
        assert m["width"] == 1 + h[0] % 8 and m["height"] == 1 + h[1] % 8
        assert m["n_frames"] == 2 + h[8] % 6 == len(m["frames"])
        for (k, r, g, b) in m["frames"]:
            base = ((h[2] + k) % 256, (h[3] + k) % 256, (h[4] + k) % 256)
            exp = _jpeg_rgb(*_jpeg_ycc(*base)) if m["codec"] == "mjpg" else base
            assert (r, g, b) == exp, (mref, k, m["codec"])
    assert seen == {"dib", "mjpg"}


def test_avi_decode_rejects_unknown_codec():
    import struct

    from pdfspark.codec import _media_avi_bytes

    payload = bytearray(_media_avi_bytes("vid00000000"))  # dib variant
    i = payload.find(b"strf")
    # corrupt biCompression to an unsupported fourcc
    struct.pack_into("<I", payload, i + 8 + 16, struct.unpack("<I", b"H264")[0])
    with pytest.raises(NotImplementedError):
        multimodal.decode_image_real(bytes(payload))


def test_stream_dedup_events_exactly_once(spark):
    """r6: watermarked streaming dropDuplicates over a twice-replayed
    landing emits exactly the distinct event set — at-least-once in,
    exactly-once out."""
    got = streaming.stream_dedup_events(spark, SF_SMOKE)
    batch = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    assert got.count() == batch.distinct().count()
    assert got.exceptAll(batch).count() == 0


def test_corpus_split_content_keyed(spark):
    """r6: split assignment is keyed on the content fingerprint —
    byte-identical texts ALWAYS share a split — and the 90/5/5 mod
    buckets cover every doc exactly once."""
    import pyspark.sql.functions as F

    from pdfspark.ops.textstats import corpus_split

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    dup = docs.limit(20).withColumn("doc_id", F.col("doc_id") + 500000)
    both = docs.unionByName(dup)
    both.createOrReplaceTempView("split_probe")
    got = corpus_split(spark, SF_SMOKE)
    assert got.count() == docs.count()
    assert set(r.split for r in got.select("split").distinct().collect()) <= {
        "train", "val", "test"
    }
    n = got.count()
    n_train = got.where(F.col("split") == "train").count()
    assert 0.8 * n <= n_train <= 0.97 * n  # ~90% at small n
    # content-keyed: identical text ⇒ identical split (join on text)
    a = got.alias("a")
    joined = (
        docs.select("doc_id", "text").alias("d1")
        .join(dup.select(F.col("doc_id").alias("doc_id2"), "text"), "text")
    )
    assert joined.count() >= 20  # the planted dup pairs share text


def test_ivf_geometry_probe_fraction_shrinks_with_n():
    """r7/r8 geometry scaling: 50% probe at toy N (cell fragmentation
    floor), constant-candidate shrink once cells are populated,
    √n_cells probe floor at production N, and the r8 N/λ cell branch
    (expected cell population pins at CELL_TARGET past N = λ²) up to
    the 2^20 one-broadcast ceiling — pinned at the exact values the
    sf corpora and the scale extrapolation use."""
    assert ann._geometry(500) == (22, 11)     # sf0.001/0.01: unchanged 50%
    assert ann._geometry(2000) == (44, 20)    # sf0.1: shrink ACTIVE (was 22)
    assert ann._geometry(10_000) == (100, 10)  # √-floor takes over
    assert ann._geometry(1_000_000) == (1000, 32)  # isqrt ≈ N/λ crossover
    assert ann._geometry(1_200_000) == (1172, 35)  # N/λ branch ACTIVE
    assert ann._geometry(10**9) == (976_563, 989)  # cell size pinned at λ
    assert ann._geometry(10**12) == (1_048_576, 1024)  # broadcast ceiling
    # formula invariants: probe never exceeds cells, never below 4;
    # expected cell population never exceeds max(√N, λ) below the cap
    for n in (1, 17, 99, 3000, 12345, 10**7, 10**8, 10**9):
        c, p = ann._geometry(n)
        assert 4 <= p <= c
        if c < ann.N_CELLS_MAX:
            import math

            assert n / c <= max(math.isqrt(n), ann.CELL_TARGET)


def test_ivf_recall_holds_at_sf01_with_shrunk_probe():
    """The r7 done-bar: recall@10 ≥ 0.7 at sf0.1 WITH the shrunk
    probe count (20 of 44 cells) — serial numpy replica of the
    trained-IVF plan (same quantized k-means, same tie rules), so the
    pin runs in ~1 s without a SparkSession."""
    import duckdb
    import numpy as np

    E = duckdb.sql(
        "select vec_id, embedding from "
        "read_parquet('/root/testdata/sf0.1/embeddings.parquet') "
        "order by vec_id"
    ).fetchnumpy()
    ids = E["vec_id"]
    X = np.array(list(E["embedding"]), dtype=np.float64)
    n = len(ids)
    n_cells, n_probe = ann._geometry(n)
    assert (n_cells, n_probe) == (44, 20)

    qz = lambda A: np.floor((A + ann.KM_OFF) * ann.KM_SCALE).astype(np.int64)
    C = qz(X[ids % ann.CENT_MOD == ann.CENT_RES][:n_cells])
    samp = qz(X[ids % ann.KM_MOD == ann.KM_RES])  # full stride (r8)
    for _ in range(ann.KM_ITERS):
        d2 = ((samp[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d2.argmin(axis=1)
        C = C.copy()
        for c in range(n_cells):
            m = samp[a == c]
            if len(m):
                C[c] = m.sum(axis=0) // len(m)
    Cn = C.astype(np.float64) / ann.KM_SCALE - ann.KM_OFF
    Cn /= np.linalg.norm(Cn, axis=1, keepdims=True)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    cell = np.argmax(Xn @ Cn.T, axis=1)

    K = ann.TOP_K
    Q = Xn[: ann.N_QUERIES]
    S = Q @ Xn.T
    qc = Q @ Cn.T
    recall = 0.0
    for i in range(ann.N_QUERIES):
        s = S[i].copy()
        s[i] = -2.0
        truth = set(ids[np.lexsort((np.arange(n), -s))[:K]])
        probed = set(np.lexsort((np.arange(n_cells), -qc[i]))[:n_probe])
        cand = np.array(
            [j for j in range(n) if cell[j] in probed and j != i]
        )
        got = set(ids[cand[np.lexsort((cand, -S[i][cand]))[:K]]])
        recall += len(got & truth) / K
    recall /= ann.N_QUERIES
    assert recall >= 0.7, f"sf0.1 recall {recall} below the 0.7 pin"


def test_dedup_substring_planted(spark, tmp_path):
    """r7 duplicated-span accounting: an 8-word window shared across
    two docs flags exactly one window in each; sub-window docs dedup
    on their whole text; the per-mille is integer-exact."""
    from pdfspark.ops import dedup as dd

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h tail1 x"),  # 3 windows, 1 shared
            (2, "pre a b c d e f g h"),      # 2 windows, 1 shared
            (3, "short text"),               # whole-text window …
            (4, "short text"),               # … duplicated with doc 3
            (5, "u1 u2 u3 u4 u5 u6 u7 u8"),  # unique single window
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "sub_docs")
    docs.write.parquet(f"{path}/documents.parquet")
    got = {
        r.doc_id: (r.n_windows, r.n_dup_windows, r.dup_permille)
        for r in dd.dedup_substring(spark, path).collect()
    }
    assert got == {
        1: (3, 1, 333),
        2: (2, 1, 500),
        3: (1, 1, 1000),
        4: (1, 1, 1000),
        5: (1, 0, 0),
    }


def test_corpus_mix_ratios_and_determinism(spark, tmp_path):
    """r7 mix construction: with src0 (weight 1, 6 docs) and src1
    (weight 2, 4 docs), the bottleneck is src1 → T = 6, takes = 2 and
    4 — the 1:2 target ratio held exactly; kept rows are the
    smallest-md5 ranks so a rerun is byte-identical."""
    import pyspark.sql.functions as F

    from pdfspark.ops import textstats as ts

    rows = [(i, f"doc {i}", "src0") for i in range(6)]
    rows += [(10 + i, f"doc {10 + i}", "src1") for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    path = str(tmp_path / "mix_docs")
    docs.write.parquet(f"{path}/documents.parquet")
    got = ts.corpus_mix(spark, path)
    per_src = {
        r.source: r.n
        for r in got.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert per_src == {"src0": 2, "src1": 4}
    assert {r.weight for r in got.collect()} == {1, 2}
    # determinism: same frame on a rerun
    again = {(r.doc_id, r.source) for r in ts.corpus_mix(spark, path).collect()}
    assert again == {(r.doc_id, r.source) for r in got.collect()}
    # the per-source take table reaches the ranked side as a broadcast
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_pq_adc_recall_and_compression(spark):
    """r7 PQ-ADC tier: recall@5 vs brute-force raw dot ≥ 0.5 at smoke
    SF (measured 0.74 sf0.01 / 0.70 sf0.1 — the (32, 64) sweep point),
    the integer scores are exact (within int64 bounds), and every
    vector compresses to PQ_M codes."""
    import numpy as np

    from pdfspark.ops import ann

    rows = (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .orderBy("vec_id")
        .collect()
    )
    ids = np.array([r.vec_id for r in rows])
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    got = ann.ann_pq_topk(spark, SF_SMOKE).collect()
    assert all(abs(r.score) < (1 << 52) for r in got)
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r.neighbor_id)
    rec = 0.0
    for q, approx in by_q.items():
        mask = ids != q
        true_d = (X[ids == q][0][None, :] * X).sum(axis=1)
        truth = set(
            ids[mask][np.lexsort((ids[mask], -true_d[mask]))[: ann.TOP_K]]
        )
        rec += len(set(approx) & truth) / ann.TOP_K
    assert rec / len(by_q) >= 0.5, rec / len(by_q)


def test_bpe_pair_topk_planted(spark, tmp_path):
    """Two BPE rounds: 'a b' wins round 1 (3 occurrences) and merges
    greedily left-to-right — "a b a b" becomes two merged symbols
    (adjacent occurrences both merge), single-token docs contribute
    nothing, and round 2 counts pairs of the merged stream."""
    from pdfspark.ops import textstats as ts

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "x")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "bpe_docs")
    docs.write.parquet(f"{path}/documents.parquet")
    got = sorted(
        (r.round, r.pair, r.cnt)
        for r in ts.bpe_pair_topk(spark, path).collect()
    )
    ab = "a\x1eb"
    assert got == [
        (1, "a b", 3),
        (1, "b a", 1),
        (1, "b c", 1),
        (2, f"{ab} {ab}", 1),
        (2, f"{ab} c", 1),
    ]


def test_bpe_merges_chain_planted(spark, tmp_path):
    """N-round merge learning (r8): merged symbols participate in
    later rounds, so the trainer can grow multi-token phrases. Corpus
    of 'a b c' ×3 + 'a b' ×1: round 1 merges (a,b) cnt 4; round 2
    merges (a·b, c) cnt 3 — a 3-token phrase built ON the round-1
    symbol; later rounds go pairless and the loop stops early."""
    from pdfspark.ops import textstats as ts

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "a b c"), (4, "a b")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "bpem_docs")
    docs.write.parquet(f"{path}/documents.parquet")
    got = [(r.round, r.pair, r.cnt) for r in ts.bpe_merges(spark, path).collect()]
    ab = "a\x1eb"
    assert got[:2] == [(1, "a b", 4), (2, f"{ab} c", 3)]
    # after round 2 every doc is a single symbol — no pairs remain
    assert len(got) == 2


def test_semantic_dedup_matches_local_replica(spark):
    """SemDeDup keep/drop against a serial numpy replica of the exact
    contract (same trained cells, same tie rules): rows rank by the
    r8 paper order (centroid sim ASC, vec_id ASC); every dropped row
    names its earliest-RANKED same-cell tau-neighbor, every kept row
    has none — so each duplicate chain keeps its least-central
    member, and planted EXACT duplicates resolve by the vec_id
    tie-break (asserted: at least one kept dup-chain head is not the
    chain's min vec_id would be too strong for an arbitrary corpus,
    but the keep/dup assignment itself is exact)."""
    import numpy as np

    from pdfspark.ops import ann

    sf = "/root/testdata/sf0.001"
    out = {
        r.vec_id: (r.cell, r.keep, r.dup_of)
        for r in ann.semantic_dedup(spark, sf).collect()
    }
    emb = ann._emb(spark, sf)
    rows = emb.select("vec_id", "embedding").collect()
    n_cells, _ = ann._geometry(len(rows))
    Cn = ann._centroids(emb, n_cells)
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    E = np.array([r.embedding for r in rows], dtype=np.float64)
    En = E / np.linalg.norm(E, axis=1, keepdims=True)
    sims = En @ Cn.T
    cells = np.argmax(sims, axis=1)
    csim = sims[np.arange(len(ids)), cells]
    exp = {}
    for c in sorted(set(cells.tolist())):
        m = cells == c
        cid, ce, cs = ids[m], En[m], csim[m]
        order = np.lexsort((cid, cs))  # paper rank: csim, then vec_id
        cid, ce = cid[order], ce[order]
        S = ce @ ce.T
        for j in range(len(cid)):
            dup = -1
            for i in range(j):
                if S[j, i] >= ann.SEM_TAU:
                    dup = int(cid[i])
                    break
            exp[int(cid[j])] = (int(c), dup < 0, dup)
    assert out == exp
    assert sum(1 for v in out.values() if not v[1]) > 0  # corpus has dups


def test_ivf_trainer_tolerates_underfilled_seed_stride(spark, tmp_path):
    """r8 review regression: a corpus so small the %7 seed stride
    yields FEWER than the geometry's n_cells seeds (here 100 vectors:
    n_cells = 16 but only ~14 seeds) must train on the available
    seeds — exactly the oracle's row_number-capped seed0 CTE — not
    IndexError in the partial-sum reducer. Both the trainer and the
    IVF search path (probe ranking over len(C) cells) are pinned."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdfspark.ops import ann

    N, D = 100, 8
    rng = np.random.default_rng(88)
    X = rng.standard_normal((N, D)).astype(np.float32)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    out = tmp_path / "embeddings.parquet"
    out.mkdir()
    offs = np.arange(0, (N + 1) * D, D, dtype=np.int32)
    tbl = pa.table(
        {
            "vec_id": pa.array(np.arange(N), type=pa.int64()),
            "embedding": pa.ListArray.from_arrays(
                pa.array(offs), pa.array(X.reshape(-1))
            ),
        }
    )
    pq.write_table(tbl, out / "part0.parquet")
    emb = ann._emb(spark, str(tmp_path))
    n_cells, _ = ann._geometry(N)
    n_seeds = sum(1 for v in range(N) if v % ann.CENT_MOD == ann.CENT_RES)
    assert n_seeds < n_cells  # the regression's precondition
    C = ann._centroids(emb, n_cells)
    assert len(C) == n_seeds
    rows = ann.ann_ivf_topk(spark, str(tmp_path)).collect()
    assert len(rows) > 0
    cells = {r.cell: r.n_members for r in ann.ann_ivf_cells(spark, str(tmp_path)).collect()}
    assert sum(cells.values()) == N and max(cells) < n_seeds


def test_ivf_cell_population_bounded_at_1e6(spark, tmp_path):
    """The r8 scale pin the r7 verdict asked for: on a ≥10⁶-vector
    corpus the N/λ geometry branch is ACTIVE and holds the max
    trained-cell population ≤ 8·CELL_TARGET (deterministic synthetic
    unit-sphere corpus; dim 8 keeps the pytest under a minute — every
    operator in the path is dimension-agnostic). Exercises the REAL
    r8 distributed machinery end-to-end: broadcast-centroid integer
    Lloyd rounds with map-side partial sums, tiled broadcast cosine
    assignment, per-cell accounting."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    N, D, FILES = 1_200_000, 8, 16
    rng = np.random.default_rng(8)
    out = tmp_path / "embeddings.parquet"
    out.mkdir()
    per = N // FILES
    for f in range(FILES):
        X = rng.standard_normal((per, D)).astype(np.float32)
        X /= np.linalg.norm(X, axis=1, keepdims=True)
        offs = np.arange(0, (per + 1) * D, D, dtype=np.int32)
        tbl = pa.table(
            {
                "vec_id": pa.array(
                    np.arange(f * per, (f + 1) * per), type=pa.int64()
                ),
                "embedding": pa.ListArray.from_arrays(
                    pa.array(offs), pa.array(X.reshape(-1))
                ),
            }
        )
        pq.write_table(tbl, out / f"part-{f:02d}.parquet")

    n_cells, _ = ann._geometry(N)
    assert n_cells == 1172  # N/λ branch: ceil(1.2e6/1024) > isqrt
    cells = ann.ann_ivf_cells(spark, str(tmp_path)).collect()
    assert sum(r.n_members for r in cells) == N
    assert all(0 <= r.cell < n_cells for r in cells)
    biggest = max(r.n_members for r in cells)
    assert biggest <= 8 * ann.CELL_TARGET, (
        f"max cell population {biggest} breaches the 8λ skew bound"
    )
