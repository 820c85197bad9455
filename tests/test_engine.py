"""Spark engine tests: synthesis lockstep, round-trip pipeline,
fault policy, metadata — the Milestone 1 end-to-end gate (SURVEY §7)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from conftest import SF_SMOKE, one_page_pdf
from pdfspark.codec import synth_spans_py
from pdfspark.engine import (
    EXTRACT_SCHEMA,
    extract,
    extract_flat,
    extract_geometry,
    generate_payloads,
    load_documents,
    metadata_rows,
    per_doc,
    roundtrip_rows,
    spans_rows,
    status_rows,
    synth_spans_df,
)
from pdfspark.kernel import EParseError


def test_synth_spans_lockstep(spark):
    """Spark SQL synthesis == pure-Python synthesis, row for row."""
    docs = load_documents(spark, SF_SMOKE).limit(50)
    got = {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
        for r in synth_spans_df(docs).collect()
    }
    for row in docs.select("doc_id", "text").collect():
        assert got[row.doc_id] == synth_spans_py(str(row.doc_id), row.text)


def test_spans_rows_synthesizes_once(spark):
    """Exploding synthesized spans runs the synthesis once: the
    optimized plan holds one ``regexp_extract_all``, and the rows equal
    the pure-Python synthesis."""
    docs = load_documents(spark, SF_SMOKE)
    rows = spans_rows(synth_spans_df(docs))
    plan = rows._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("regexp_extract_all") == 1, plan
    expected = sum(len(synth_spans_py(str(r.doc_id), r.text))
                   for r in docs.select("doc_id", "text").collect())
    assert rows.count() == expected


def test_roundtrip_pipeline_identity(spark):
    docs = load_documents(spark, SF_SMOKE).limit(40)
    spans = synth_spans_df(docs)
    expected = {
        (r.doc_id, r.offset, r.kind, r.text, r.media_ref)
        for r in spans.select("doc_id", F.explode("spans").alias("s"))
        .select("doc_id", "s.offset", "s.kind", "s.text", "s.media_ref")
        .collect()
    }
    extracted = extract(generate_payloads(spans, "mixed"))
    got_rows = extracted.select("doc_id", "status", F.explode("spans").alias("s")).select(
        "doc_id", "status", "s.offset", "s.kind", "s.text", "s.media_ref"
    ).collect()
    assert all(r.status == "ok" for r in got_rows)
    got = {(r.doc_id, r.offset, r.kind, r.text, r.media_ref) for r in got_rows}
    assert got == expected


def test_roundtrip_rows_matches_synthesis(spark):
    rows = roundtrip_rows(spark, SF_SMOKE, variant="objstream").collect()
    docs = load_documents(spark, SF_SMOKE)
    expected = set()
    for r in docs.select("doc_id", "text").collect():
        for (k, t, m, o) in synth_spans_py(str(r.doc_id), r.text):
            expected.add((r.doc_id, o, k, t, m))
    assert {(r.doc_id, r.offset, r.kind, r.text, r.media_ref) for r in rows} == expected


def _per_doc_frame(spark):
    return spark.createDataFrame(
        [(i, f"t{i}") for i in range(6)], "doc_id bigint, payload string"
    ).repartition(2)


def test_per_doc_eparse_error_drops_only_that_doc(spark):
    """A kernel EParseError aborts its own document (zero rows); every
    other document keeps all its rows."""

    def fn(did, payload):
        if did == 3:
            raise EParseError("bad xref")
        return [(did, payload), (did, payload + "!")]

    rows = per_doc(
        _per_doc_frame(spark), fn, "doc_id bigint, s string"
    ).collect()
    got = sorted((r.doc_id, r.s) for r in rows)
    assert got == sorted(
        (i, s) for i in range(6) if i != 3 for s in (f"t{i}", f"t{i}!")
    )


def test_per_doc_other_exception_fails_the_task(spark):
    """Anything but EParseError is a bug, not a malformed document: a
    planted TypeError must fail the query instead of dropping rows."""

    def fn(did, payload):
        if did == 4:
            return [(did, payload + 1)]  # str + int: TypeError
        return [(did, payload)]

    with pytest.raises(Exception, match="TypeError"):
        per_doc(_per_doc_frame(spark), fn, "doc_id bigint, s string").collect()


def test_flat_stages_drop_malformed_numbers_as_broken_documents(spark):
    """extract_flat and extract_geometry call the raising kernel
    directly: an ASCII85 group above 2^32-1 or an operand beyond the
    64-bit range must give that document zero rows (EParseError), not
    a failed task, while the good document keeps its span."""
    from pdfspark.kernel.filters import a85_encode

    a85 = b"/Filter /ASCII85Decode "
    docs = [
        (1, one_page_pdf(a85_encode(b"BT (fine) Tj ET") + b"~>", a85)),
        (2, one_page_pdf(b"uuuuu~>", a85)),
        (3, one_page_pdf(b"BT " + b"9" * 400 + b" 0 Td (m) Tj ET")),
    ]
    frame = spark.createDataFrame(docs, "doc_id bigint, payload binary")
    assert [(r.doc_id, r.text) for r in extract_flat(frame).collect()] == [
        (1, "fine")
    ]
    assert [r.doc_id for r in extract_geometry(frame).collect()] == [1]


def test_per_doc_column_names_from_nested_schema(spark):
    """Column names come from the parsed schema, so commas inside
    struct<…> do not split a column (EXTRACT_SCHEMA's spans)."""

    def fn(did, payload):
        span = {"kind": "text", "text": payload, "media_ref": None, "offset": 0}
        return [(did, "ok", None, [span])]

    df = per_doc(_per_doc_frame(spark), fn, EXTRACT_SCHEMA)
    assert df.columns == ["doc_id", "status", "error", "spans"]
    r = df.where("doc_id = 2").collect()[0]
    assert (r.status, r.spans[0].text, r.spans[0].offset) == ("ok", "t2", 0)


def test_zip_listings_reread_only_under_spark_files_root(tmp_path, monkeypatch):
    """No Spark: once installed, invalidate_caches() re-reads a zip
    under the SparkFiles root (addPyFile) but not one outside it
    (Spark's own pyspark.zip, py4j, the spark-core jar); installing
    twice changes nothing further."""
    import importlib
    import sys
    import zipfile
    import zipimport

    from pyspark.core.files import SparkFiles

    import pdfspark

    root = tmp_path / "userFiles"
    root.mkdir()
    runtime, added = str(tmp_path / "runtime.zip"), str(root / "added.zip")
    for path in (runtime, added):
        with zipfile.ZipFile(path, "w") as zf:
            zf.writestr("m.py", "")
        monkeypatch.setitem(sys.path_importer_cache, path, zipimport.zipimporter(path))
    reads = []
    stock_read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda a: reads.append(a) or stock_read(a)
    )
    monkeypatch.setattr(SparkFiles, "_root_directory", str(root))
    # restored at teardown, like every attribute set above
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )

    importlib.invalidate_caches()
    assert (reads.count(runtime), reads.count(added)) == (1, 1)  # stock
    installed = set()
    for _ in range(2):
        pdfspark.keep_spark_zip_directories()
        installed.add(zipimport.zipimporter.invalidate_caches)
        reads.clear()
        importlib.invalidate_caches()
        assert (reads.count(runtime), reads.count(added)) == (0, 1)
    assert len(installed) == 1


def test_per_doc_worker_imports_zip_added_at_runtime(spark, tmp_path):
    """Workers that ran a pdfspark stage keep Spark's own zip listings
    across tasks, yet a zip added afterwards with addPyFile (it lands
    under the SparkFiles root) imports in the next stage on those same
    reused workers."""
    import os
    import zipfile

    def fixed(did, payload):
        import os
        import zipimport

        return [(did, os.getpid(), zipimport.zipimporter.invalidate_caches.__module__)]

    # more tasks than pooled workers, so every idle worker runs one
    frame = spark.range(0, 32, numPartitions=16).selectExpr("id AS doc_id", "'' AS payload")
    first = per_doc(frame, fixed, "doc_id bigint, pid int, fix string").collect()
    assert {r.fix for r in first} == {"pdfspark"}

    name = f"pdfspark_added_{os.getpid()}"
    path = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{name}.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(path))

    def imports(did, payload):
        import importlib
        import os

        return [(did, os.getpid(), importlib.import_module(name).VALUE)]

    second = per_doc(_per_doc_frame(spark), imports, "doc_id bigint, pid int, v int").collect()
    assert {r.v for r in second} == {42}
    assert {r.pid for r in second} <= {r.pid for r in first}  # reused workers


def test_malformed_policy(spark):
    rows = status_rows(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        if r.doc_id % 17 == 0:
            assert r.status == "error" and r.n_spans == 0
        else:
            assert r.status == "ok" and r.n_spans > 0


def test_metadata_pipeline(spark):
    rows = metadata_rows(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.status == "ok"
        assert r.title == f"doc {r.doc_id}"
        assert r.page_count >= 1
        assert r.encrypted is False


def test_no_rowwise_udf_registered(spark):
    """input_hint hard requirement: vectorized surfaces only. The
    engine modules must not import pyspark's row-wise udf."""
    import glob as _glob

    for path in _glob.glob("pdfspark/**/*.py", recursive=True):
        src = open(path).read()
        assert "F.udf(" not in src and "@udf" not in src, path


def test_binaryfile_source_on_reference_pdfs(spark):
    """S1: the real-file ingest path over the reference's bundled
    sample PDFs (Hello World must come through the whole Spark path)."""
    from pdfspark.engine import extract_pdf_files

    out = extract_pdf_files(
        spark, "/root/reference/pdfparse-lib/src/test/resources/minimal"
    ).collect()
    by_name = {r.path.rsplit("/", 1)[-1]: r for r in out}
    assert len(by_name) == 3
    for name in ("1 - minimal by adobe.pdf", "1 - minimal_crlf.pdf"):
        r = by_name[name]
        assert r.status == "ok"
        assert [(s.kind, s.text) for s in r.spans] == [("text", "Hello World")]


def test_binaryfile_drops_zero_byte_files(spark):
    """Pin the (surprising, verified) Spark behavior: binaryFile scans
    silently omit zero-byte files — ingest accounting must not rely on
    this scan's row count (see extract_pdf_files docstring)."""
    from pdfspark.engine import extract_pdf_files

    out = extract_pdf_files(
        spark, "/root/reference/pdfparse-lib/src/test/resources/malformed_pdfs"
    ).collect()
    names = {r.path.rsplit("/", 1)[-1] for r in out}
    assert "zerosizedfile.pdf" not in names  # dropped by the source
    assert names == {"noise.pdf", "only_header.pdf", "only_header_eof.pdf"}
    assert all(r.status == "error" for r in out)


def test_sql_surface(spark):
    """spark.sql over the registered views equals the DataFrame API."""
    import pdfspark.sql as psql
    from pdfspark.engine import roundtrip_rows

    psql.register(spark, SF_SMOKE, variant="classic")
    got = {
        (r.kind, r.n)
        for r in spark.sql(
            "SELECT kind, count(*) AS n FROM pdf_spans GROUP BY kind"
        ).collect()
    }
    rows = roundtrip_rows(spark, SF_SMOKE, variant="classic")
    expected = {
        (r.kind, r.n)
        for r in rows.groupBy("kind").count().withColumnRenamed("count", "n").collect()
    }
    assert got == expected
    meta_n = spark.sql("SELECT count(*) AS n FROM pdf_meta WHERE status='ok'").first().n
    assert meta_n == spark.table("documents").count()


def test_forms_variant_roundtrips():
    """Form XObjects (r3): half the text spans render through
    `/FmK Do` with rotating /Matrix (absent / identity / translated)
    and /Resources (own inline dict / inherit from page) — the
    interpreter's recursion path must preserve the exact sequence."""
    from pdfspark.codec import build_pdf, synth_spans_py
    from pdfspark.kernel import extract_spans

    text = "alpha beta gamma delta epsilon zeta " * 20
    spans = synth_spans_py("frm", text)
    payload = build_pdf("frm", spans, "forms")
    assert b"/Subtype /Form" in payload or b"/Subtype/Form" in payload
    st, err, got = extract_spans(payload)
    assert st == "ok", err
    assert got == [(k, t, m, i) for i, (k, t, m, _o) in enumerate(spans)]


def test_form_recursion_depth_guard():
    """A self-referential Form XObject must hit the depth guard and
    land the document in the error bucket, not the interpreter in an
    infinite loop."""
    from pdfspark.kernel import extract_spans
    from pdfspark.kernel.filters import flate_encode

    inner = b"/F0 Do"
    comp = flate_encode(inner)
    body = []
    body.append(b"%PDF-1.4")
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
           b"/Contents 4 0 R /Resources << /XObject << /F0 5 0 R >> >> >>",
        4: b"<< /Length 6 >>\nstream\n/F0 Do\nendstream",
        5: b"<< /Type /XObject /Subtype /Form /BBox [0 0 1 1] /Filter /FlateDecode"
           b" /Length %d >>\nstream\n" % len(comp) + comp + b"\nendstream",
    }
    out = bytearray(b"%PDF-1.4\n")
    offs = {}
    for n, b in objs.items():
        offs[n] = len(out)
        out += b"%d 0 obj\n" % n + b + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 1\n0000000000 65535 f \n"
    for n in sorted(objs):
        out += b"%d 1\n%010d 00000 n \n" % (n, offs[n])
    out += b"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % xref
    st, err, spans = extract_spans(bytes(out))
    assert st == "error" and "recursion" in err.lower()
    assert spans == []


def test_page_label_formatting():
    """§12.4.2 numbering styles over the documented domains."""
    from pdfspark.kernel.docmodel import _format_page_label as f

    assert f("D", 7) == "7"
    assert [f("r", v) for v in (1, 4, 9, 14, 40, 1999)] == [
        "i", "iv", "ix", "xiv", "xl", "mcmxcix",
    ]
    assert f("R", 2024) == "MMXXIV"
    assert [f("a", v) for v in (1, 26, 27, 52, 53)] == [
        "a", "z", "aa", "zz", "aaa",
    ]
    assert f("A", 28) == "BB"
    assert f(None, 3) == ""
    assert f("Q", 3) == "3"  # unknown style -> decimal fallback
    assert f("r", 0) == "0"  # out-of-domain -> decimal fallback


def _labels_for(doc_id: int, text: str):
    from pdfspark import engine as eng
    from pdfspark.codec import SPANS_PER_PAGE, build_pdf, synth_spans_py
    from pdfspark.kernel.extract import parse_document

    spans = synth_spans_py(str(doc_id), text * eng.PL_REP)
    n_pages = max(1, -(-len(spans) // SPANS_PER_PAGE))
    payload = build_pdf(
        str(doc_id), spans, "classic",
        catalog_extra={"PageLabels": eng.page_label_tree(doc_id, n_pages)},
    )
    return parse_document(payload).page_labels(), n_pages


def test_page_labels_schedule_and_tree_shapes():
    """End-to-end generator → kernel: doc 7 exercises the prefix-only
    second range, doc 8 (%4==0) the /Kids+/Limits tree shape, doc 1
    the /St default, doc 0 the single-page flat /Nums."""
    labs, n = _labels_for(7, "x" * 200)
    assert n >= 3
    assert labs[0] == "ii" and labs[1] == "iii"
    assert labs[2] == "x7-" and labs[-1] == "x7-"
    labs, n = _labels_for(8, "x" * 200)
    assert n >= 3
    assert labs[:2] == ["C", "D"] and labs[2] == "x8-I"
    labs, n = _labels_for(0, "x" * 10)
    assert labs == ["1"]


def test_page_labels_no_tree_and_missing_range():
    """PERMISSIVE paths: a doc without /PageLabels yields empty labels
    for every page; a tree whose first range starts past page 0 leaves
    the uncovered pages empty."""
    from pdfspark.codec import build_pdf, synth_spans_py
    from pdfspark.kernel.cos import CDict, Name
    from pdfspark.kernel.extract import parse_document

    spans = synth_spans_py("9", "y" * 400)
    doc = parse_document(build_pdf("9", spans, "classic"))
    labs = doc.page_labels()
    assert labs and all(l == "" for l in labs)

    root = CDict()
    r = CDict()
    r[Name("S")] = Name("D")
    root[Name("Nums")] = [1, r]
    payload = build_pdf("9", spans, "classic",
                        catalog_extra={"PageLabels": root})
    labs = parse_document(payload).page_labels()
    assert labs[0] == "" and labs[1] == "1" and labs[-1] == str(len(labs) - 1)


def test_page_labels_indirect_st_resolved():
    """/St stored as an indirect reference (legal per §7.3.10) must
    resolve like /S and /P do — review-round pin."""
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R /PageLabels"
           b" << /Nums [0 << /S /D /St 5 0 R >>] >> >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
           b" /Contents 4 0 R >>",
        4: b"<< /Length 0 >>\nstream\n\nendstream",
        5: b"9",
    }
    out = bytearray(b"%PDF-1.4\n")
    offs = {}
    for n, b in objs.items():
        offs[n] = len(out)
        out += b"%d 0 obj\n" % n + b + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 1\n0000000000 65535 f \n"
    for n in sorted(objs):
        out += b"%d 1\n%010d 00000 n \n" % (n, offs[n])
    out += (
        b"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % xref
    )
    from pdfspark.kernel.extract import parse_document

    assert parse_document(bytes(out)).page_labels() == ["9"]
