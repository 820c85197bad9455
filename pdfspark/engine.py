"""The Spark pipeline: spans synthesis → payload generation →
extraction (SURVEY.md §7 Milestones 1-2; BASELINE.json input_hint).

Dataflow (all vectorized — the ONLY Python surfaces are mapInPandas
stages over Arrow batches; no row-wise udf() anywhere, per input_hint):

    documents(doc_id, text, ...)                      [driver parquet]
      → generate_payloads   spread_docs (scale.py): explicit doc_id
                            repartition of the (doc_id, text) rows — the
                            pipeline's ONLY Exchange — then mapInPandas
                            → (doc_id, payload); spans synthesize
                            in-worker from text
      → extract             mapInPandas → (doc_id, status, error, spans[])
      → explode to rows for comparison / sinks

Generation spreads its own input, so every caller passes the raw
documents frame and generate → extract pipeline in one stage behind
the spread. The interleaved table (doc_id, spans[]) of the input_hint
shape is synth_spans_df — pure Spark SQL expressions (JVM, codegen) —
for the consumers that read spans directly.

``queries()`` at the bottom is the PDF half of the driver's query
table (``__spark_entry__.queries`` adds the ops modules' tables).

Every Python stage runs through ONE helper, ``per_doc``: it owns the
Arrow batch loop and the fault policy of the reference (one document,
one outcome — SURVEY §2.8, ``exception/EParseError.java``). A kernel
``EParseError`` aborts only its own document (zero rows); any other
exception fails the task, so a kernel bug is a failed query, never a
silently missing row. Wrappers whose contract reports a broken
document as a row (``extract``'s status='error') catch inside the
per-document function.

The per-document kernel state (xref maps, object caches) lives inside
one call per document and never crosses an executor boundary
(SURVEY §1.3, §3 'boundaries').
"""

from __future__ import annotations

import os
from functools import partial
from typing import Callable, Iterator, Sequence

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from .codec import SPANS_PER_PAGE, build_pdf, synth_spans_py, variant_for
from .kernel import (
    EParseError,
    extract_meta,
    extract_meta_doc,
    extract_spans,
    extract_spans_geo,
    parse_document,
)
from .kernel.cos import CDict, CString, Name
from .kernel.errors import ParserSettings
from .scale import spread_docs  # no cycle: scale's engine uses are lazy

# ---------------------------------------------------------------------------
# Schemas
# ---------------------------------------------------------------------------

SPAN_STRUCT = "struct<kind:string,text:string,media_ref:string,offset:int>"
SPANS_SCHEMA = f"array<{SPAN_STRUCT}>"
PAYLOAD_SCHEMA = "doc_id bigint, payload binary"
EXTRACT_SCHEMA = f"doc_id bigint, status string, error string, spans {SPANS_SCHEMA}"

CHUNK = 80  # must match codec.synth_spans_py and the oracle SQL

# ---------------------------------------------------------------------------
# The per-document stage helper (every Python stage below runs through it)
# ---------------------------------------------------------------------------


def per_doc(
    frame: DataFrame,
    fn: Callable[..., list],
    schema: str,
    cols: Sequence[str] = ("doc_id", "payload"),
) -> DataFrame:
    """The one per-document Python stage: ``fn(*row)`` runs once per
    row of ``frame`` (the values of ``cols``, in order) and returns a
    list of output tuples in ``schema`` column order.

    Fault policy: a kernel ``EParseError`` gives zero rows for that
    document; any other exception fails the task. ``fn`` must return a
    list, not a generator, so an ``EParseError`` is raised before any
    of the document's rows are kept."""
    names = [f.name for f in StructType.fromDDL(schema).fields]

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for row in zip(*(pdf[c] for c in cols)):
                try:
                    out = fn(*row)
                except EParseError:
                    continue
                rows.extend(out)
            # tuple rows measured faster than per-column lists here
            yield pd.DataFrame(rows, columns=names)

    return frame.mapInPandas(stage, schema=schema)


# ---------------------------------------------------------------------------
# Stage 1 — spans synthesis (pure Spark SQL; mirrors codec.synth_spans_py
# and __spark_entry__._SPANS_ORACLE_SQL — lockstep asserted by tests)
# ---------------------------------------------------------------------------

# chunking uses ONE linear regexp pass per document: per-chunk
# substring(text, i*80+1, 80) is O(len) per call on UTF8String (char
# indexing scans), i.e. O(len²/80) per doc — a 200 KB giant costs
# ~1 s of JVM time per call site. regexp_extract_all('(?s).{1,80}')
# yields identical chunks (greedy 80-char bites, dotall) in O(len).
_SPANS_EXPR = f"""
filter(
  flatten(transform(
    regexp_extract_all(text, '(?s).{{1,{CHUNK}}}', 0),
    (c, i) -> array(
      named_struct(
        'kind', 'text',
        'text', c,
        'media_ref', cast(null as string),
        'offset', cast(i + i div 3 as int)),
      IF(i % 3 = 2,
         named_struct(
           'kind', 'media',
           'text', cast(null as string),
           'media_ref', concat('m', substring(
               md5(concat(cast(doc_id as string), ':', cast(i as string))), 1, 16)),
           'offset', cast(i + i div 3 + 1 as int)),
         cast(null as {SPAN_STRUCT}))
    )
  )),
  x -> x is not null)
"""


def synth_spans_df(docs: DataFrame) -> DataFrame:
    """documents(doc_id, text) → (doc_id, text, spans) — the
    interleaved input table of BASELINE.json input_hint, built entirely
    JVM-side (whole-stage codegen; no Python).

    The source ``text`` column rides along (r9): spans are a pure
    function of text (lockstep-pinned against codec.synth_spans_py),
    so downstream stages that only need text — generate_payloads'
    in-worker synthesis — let Catalyst prune the struct array out of
    the plan entirely, while consumers of ``spans`` (spans_rows, the
    doc_spans SQL view) are unaffected."""
    return docs.select("doc_id", "text", F.expr(_SPANS_EXPR).alias("spans"))


def replicate_docs(docs: DataFrame, k: int) -> DataFrame:
    """Deterministic k× corpus scale-up for stress/scaling runs:
    replica r of doc d becomes doc_id d*k + r (same text). Pure JVM
    explode — no data files written, fully reproducible."""
    if k <= 1:
        return docs
    return docs.select(
        F.explode(F.expr(f"sequence(0, {k - 1})")).alias("r"),
        (F.col("doc_id") * k).alias("base"),
        "text",
    ).select((F.col("base") + F.col("r")).alias("doc_id"), "text")


def spans_rows(spans_df: DataFrame) -> DataFrame:
    """(doc_id, spans[]) → exploded comparison rows. It explodes
    ``transform(spans, s -> s)``, not the bare column: Spark infers
    ``size(spans) > 0`` ahead of an explode of an attribute and pushes
    it below the projection, so over ``synth_spans_df`` the whole span
    synthesis would run twice."""
    return spans_df.select(
        "doc_id", F.explode(F.transform("spans", lambda s: s)).alias("s")
    ).select("doc_id", "s.offset", "s.kind", "s.text", "s.media_ref")


# ---------------------------------------------------------------------------
# Stage 2 — payload generation (mapInPandas; the reference's produce()
# path S3 run as a vectorized batch stage)
# ---------------------------------------------------------------------------


def _build_payloads(
    docs: DataFrame,
    build: Callable[..., bytes],
    cols: Sequence[str] = ("doc_id", "text"),
    ensure: bool = True,
) -> DataFrame:
    """(doc_id, text, …) → (doc_id, payload): the one generation
    builder. ``build(did, *rest)`` makes one document's PDF bytes from
    the values of ``cols``.

    The rows are cut to ``cols`` and spread by doc_id first
    (scale.spread_docs): the plan's one Exchange moves the cheap text
    rows, and generation pipelines into extraction behind it.
    ``ensure=False`` means the caller already spread them."""
    docs = docs.select(*cols)
    if ensure:
        docs = spread_docs(docs)

    def one(did, *rest):
        return [(did, build(int(did), *rest))]

    return per_doc(docs, one, PAYLOAD_SCHEMA, cols)


def generate_payloads(
    docs: DataFrame, variant: str = "mixed", ensure: bool = True
) -> DataFrame:
    """(doc_id, text) → (doc_id, payload), spread by doc_id by
    default (see _build_payloads); ``ensure=False`` means the caller
    already spread the rows (or deliberately runs on the scan's
    partitions) and adds no Exchange.

    Text is the only input (r9, guide §4 — pass only the columns the
    function needs): spans are synthesized in-Python per document
    (codec.synth_spans_py — the lockstep mirror of engine._SPANS_EXPR,
    so payload bytes equal those built from synth_spans_df's structs),
    which skips the JVM struct synthesis and ships ~4× fewer bytes
    through Arrow. Other columns are dropped first, so Catalyst prunes
    synth_spans_df's struct synthesis out of the plan."""

    def build(did: int, text: str) -> bytes:
        v = variant_for(did, variant)
        return build_pdf(str(did), synth_spans_py(str(did), text), v)

    return _build_payloads(docs, build, ensure=ensure)


# ---------------------------------------------------------------------------
# Stage 3 — extraction (mapInPandas; the parseEverything analog X10 +
# text-op layer)
# ---------------------------------------------------------------------------


def extract(payloads: DataFrame) -> DataFrame:
    """(doc_id, payload) → (doc_id, status, error, spans[]).

    PERMISSIVE per-document fault policy (§2.8): malformed payloads
    yield status='error' and never spans, never a failed stage."""
    return per_doc(payloads, _spans_row, EXTRACT_SCHEMA)


def _spans_row(key, payload) -> list[tuple]:
    """(key, status, error, spans[]) for one payload — extract's row,
    keyed by doc_id or (extract_pdf_files) by path."""
    status, err, spans = extract_spans(bytes(payload))
    # a dict display measured ~2.5× faster than dict(zip(keys, s))
    return [(key, status, err, [
        {"kind": k, "text": t, "media_ref": m, "offset": o}
        for (k, t, m, o) in spans
    ])]


FLAT_SCHEMA = "doc_id bigint, offset int, kind string, text string, media_ref string"


def extract_flat(
    payloads: DataFrame,
    lenient: bool = False,
    reading_order: bool = False,
    infer_spaces: bool = False,
) -> DataFrame:
    """Row-oriented extraction: emits exploded span rows directly.

    Functionally extract() + explode, but the kernel stage yields FLAT
    Arrow columns — no per-row list-of-dict building, no nested
    struct-array conversion through Arrow, no JVM-side Generate. For
    comparison/row sinks this is the fast path; extract() remains the
    grouped (spans[]) form for document-shaped sinks.

    ``lenient=True`` turns on §C.2 xref reconstruction (broken or
    missing startxref chains salvaged by whole-file object scan).
    ``reading_order=True`` (r8) orders tagged documents' spans by
    structure-tree traversal (ISO 32000-1 §14.8 logical reading
    order) instead of content paint order; untagged docs unchanged.
    ``infer_spaces=True`` (r8) turns on §9.10-adjacent word-boundary
    inference (spaces from positioning-only glyph gaps)."""
    settings = ParserSettings(allow_reconstruction=True) if lenient else None

    def one(did, payload):
        # an error document's spans are [] — it contributes no rows
        _status, _err, spans = extract_spans(
            bytes(payload), settings, reading_order=reading_order,
            infer_spaces=infer_spaces,
        )
        return [(did, o, k, t, m) for (k, t, m, o) in spans]

    return per_doc(payloads, one, FLAT_SCHEMA)


META_SCHEMA = (
    "doc_id bigint, status string, error string, title string, author string, "
    "subject string, keywords string, creator string, producer string, "
    "creation_date string, mod_date string, trapped string, version string, "
    "lang string, page_mode string, page_layout string, page_count int, "
    "encrypted boolean, creation_ts timestamp"
)

_META_COLS = [
    "title", "author", "subject", "keywords", "creator", "producer",
    "creation_date", "mod_date", "trapped", "version", "lang", "page_mode",
    "page_layout", "page_count", "encrypted", "creation_ts",
]


def extract_metadata(payloads: DataFrame) -> DataFrame:
    """Metadata-only kernel (M3/M7/M9/M10) — split from extract() so
    metadata queries never decode content streams (the lazy-page
    optimization, SURVEY §4.1)."""

    def one(did, payload):
        status, err, meta = extract_meta(bytes(payload))
        meta = meta or {}
        return [(did, status, err, *[meta.get(c) for c in _META_COLS])]

    return per_doc(payloads, one, META_SCHEMA)


# ---------------------------------------------------------------------------
# End-to-end pipelines
# ---------------------------------------------------------------------------


def load_documents(spark, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def roundtrip_rows(
    spark,
    sf_dir: str,
    variant: str = "mixed",
    reading_order: bool = False,
    infer_spaces: bool = False,
) -> DataFrame:
    """Flagship pipeline: spread → generate → extract → exploded span
    rows. Correct iff output == synth_spans rows (the round-trip
    identity; oracle = the same synthesis in DuckDB SQL).

    With ``variant='tagged', reading_order=True`` the identity is the
    READING-ORDER contract (r8): the generator paints marked-content
    sections in scrambled (two-column) order, so the identity holds
    only when extraction re-sequences by structure-tree traversal
    (ISO 32000-1 §14.7-14.8).

    With ``variant='nospace', infer_spaces=True`` it is the
    word-boundary contract (r8): no space glyph is painted, every ' '
    is a positioning-only gap (TJ −500 kern on even spans, Td jump on
    odd), and extraction re-inserts one space per gap strictly
    exceeding half the word-space displacement (θ = ½, exact binary
    fractions). The identity holds iff the heuristic fires on every
    real gap and never on a kern (−250 lands ON the boundary)."""
    payloads = generate_payloads(load_documents(spark, sf_dir), variant)
    return extract_flat(
        payloads, reading_order=reading_order, infer_spaces=infer_spaces
    )


GEO_SCHEMA = (
    "doc_id bigint, offset int, kind string, x double, y double, "
    "w double, h double"
)


def extract_geometry(payloads: DataFrame, tj_kerning: bool = False) -> DataFrame:
    """Geometry-widened flat extraction: span-start device-space
    (x, y) projected through Tm × CTM by the interpreter, plus the
    box where derivable (media: CTM scale; text: h = font size).
    Same single-UDF-stage shape as extract_flat. ``tj_kerning=True``
    counts TJ kern displacements toward span width (§9.4.3)."""

    def one(did, payload):
        _status, _err, spans = extract_spans_geo(
            bytes(payload), tj_kerning=tj_kerning
        )
        return [
            (did, o, k, x, y, w, h) for (k, _t, _m, o, x, y, w, h) in spans
        ]

    return per_doc(payloads, one, GEO_SCHEMA)


def salvage_rows(spark, sf_dir: str, encrypted: bool = False) -> DataFrame:
    """Reconstruction pipeline (driver query `pdf_salvage`): every
    payload is generated WITHOUT its startxref chain, and lenient
    extraction must still recover the exact span sequence — the §C.2
    whole-file-scan path, oracled like any other roundtrip.
    ``encrypted=True`` (driver query `pdf_salvage_encrypted`) breaks
    cipher- and layout-rotated ENCRYPTED docs instead: reconstruction
    must harvest /Encrypt, unlock, then expand the object streams."""
    variant = (
        "malformed:no_startxref_encrypted"
        if encrypted
        else "malformed:no_startxref"
    )
    payloads = generate_payloads(load_documents(spark, sf_dir), variant)
    return extract_flat(payloads, lenient=True)


def geometry_rows(
    spark, sf_dir: str, variant: str = "classic", tj_kerning: bool = False
) -> DataFrame:
    """Span-geometry pipeline: the roundtrip path with the
    geometry-widened extractor (driver query `pdf_span_geometry`;
    `pdf_span_geometry_kerned` passes tj_kerning=True)."""
    payloads = generate_payloads(load_documents(spark, sf_dir), variant)
    return extract_geometry(payloads, tj_kerning=tj_kerning)


def status_rows(spark, sf_dir: str, modulo: int = 17) -> DataFrame:
    """Malformed-family pipeline: every doc_id % modulo == 0 gets a
    malformed payload (kind rotates) — those must land status='error'
    with zero spans (FileHandlingTest contract §5.2)."""
    kinds = ("noise", "only_header", "header_eof", "zerosized", "no_startxref")

    def build(did: int, text: str) -> bytes:
        if did % modulo == 0:
            v = f"malformed:{kinds[(did // modulo) % len(kinds)]}"
        else:
            v = variant_for(did, "mixed")
        return build_pdf(str(did), synth_spans_py(str(did), text), v)

    # r9: the query only needs (status, span COUNT) — emit them
    # directly from the kernel stage instead of shipping every span as
    # an Arrow struct array through Python→JVM just to size() it
    # (guide §4: pass/return only what the consumer needs).
    def one(did, payload):
        status, _err, spans = extract_spans(bytes(payload))
        return [(did, status, len(spans))]

    return per_doc(
        _build_payloads(load_documents(spark, sf_dir), build),
        one,
        "doc_id bigint, status string, n_spans int",
    )


def metadata_rows(spark, sf_dir: str) -> DataFrame:
    """Metadata pipeline over classic-layout payloads; every output
    column is recomputable in ANSI SQL from the documents table (the
    M7/M3 oracle)."""
    payloads = generate_payloads(load_documents(spark, sf_dir), "classic")
    meta = extract_metadata(payloads)
    return meta.select(
        "doc_id", "status", "title", "author", "subject", "keywords",
        "page_count", "page_mode", "page_layout", "encrypted",
    )


ATT_SCHEMA = (
    "doc_id bigint, att_name string, filename string, size int, "
    "content_md5 string"
)


def attachments_rows(spark, sf_dir: str) -> DataFrame:
    """File-attachment extraction (driver query `pdf_attachments`):
    the generator embeds 1-3 deterministic files per doc in a /Names →
    /EmbeddedFiles name tree (both §7.9.6 shapes, raw/flate rotating);
    the kernel walks the tree, decodes each embedded stream and emits
    (name, filename, size, md5) — all recomputable in SQL."""
    payloads = generate_payloads(load_documents(spark, sf_dir), "attachments")

    def one(did, payload):
        return [
            (did, r["att_name"], r["filename"], r["size"], r["content_md5"])
            for r in parse_document(bytes(payload)).embedded_files()
        ]

    return per_doc(payloads, one, ATT_SCHEMA)


def outlines_rows(spark, sf_dir: str) -> DataFrame:
    """Outline/bookmark extraction (driver query `pdf_outlines`): the
    generator plants a deterministic /Outlines tree (1-3 top items,
    even items carry two children); the kernel's /First→/Next DFS
    emits (pos, level, title) in display order — closed-form SQL."""
    payloads = generate_payloads(load_documents(spark, sf_dir), "navigation")

    def one(did, payload):
        return [(did, *r) for r in parse_document(bytes(payload)).outlines()]

    return per_doc(
        payloads, one, "doc_id bigint, pos int, level int, title string"
    )


REFERENCE_PDF_DIR = "/root/reference/pdfparse-lib/src/test/resources"
REFERENCE_PDFS = (
    "24c16.pdf",
    "vrml.pdf",
    "Creativecommons-what-is-creative-commons_eng.pdf",
    "loremipsum2.pdf",
    "6licenses-flat.pdf",
    "minimal/1 - minimal by adobe.pdf",
    "minimal/1 - minimal_crlf.pdf",
)


def reference_golden_rows(spark, sf_dir: str) -> DataFrame:
    """Driver query `pdf_reference_golden` (r5): the REAL-PDF surface
    as a driver-oracled query — Spark's binaryFile source over the
    reference's own bundled sample PDFs (third-party writers: Acrobat
    Distiller, Ghostscript, Word, InDesign), metadata + span stats per
    file.  The oracle's metadata columns are the reference's OWN
    golden expectations (ComplexTest.java:16-207 — a genuinely
    external oracle); the span count/digest columns are regression
    pins of this engine's text-op layer (the reference has none).
    ``sf_dir`` is unused (the inputs are the fixed real files) but
    kept for the driver's (spark, sf_dir) calling contract."""
    import hashlib

    paths = [os.path.join(REFERENCE_PDF_DIR, f) for f in REFERENCE_PDFS]
    payloads = spark.read.format("binaryFile").load(paths)

    def one(path, content):
        data = bytes(content)
        try:  # §2.8 per-file fault policy for the meta pass: a row, not a drop
            meta = extract_meta_doc(data)
        except Exception:
            meta = {"title": "", "author": "", "page_count": 0, "page_mode": ""}
        status, _err, spans = extract_spans(data)
        h = hashlib.md5()
        for (k, t, m, o) in spans:
            h.update(f"{k}|{t or ''}|{m or ''}|{o}\x1e".encode())
        return [(
            os.path.basename(path), meta["title"], meta["author"],
            meta["page_count"], meta["page_mode"], status, len(spans),
            h.hexdigest()[:16],
        )]

    return per_doc(
        payloads,
        one,
        "fname string, title string, author string, page_count int,"
        " page_mode string, status string, n_spans bigint, spans_md5 string",
        ("path", "content"),
    )


MALFORMED_PDF_DIR = os.path.join(REFERENCE_PDF_DIR, "malformed_pdfs")
MALFORMED_PDFS = (
    "noise.pdf",
    "only_header.pdf",
    "only_header_eof.pdf",
    "zerosizedfile.pdf",
)


def reference_malformed_rows(spark, sf_dir: str) -> DataFrame:
    """Driver query `pdf_malformed_golden` (r6): the reference's own
    malformed corpus (FileHandlingTest.java:32-56 — noise /
    header-only / header+startxref-EOF / zero-length) driven
    end-to-end through the binaryFile source.  The reference's
    contract is must-throw (every file raises EParseError); here each
    must land in the §2.8 error bucket with zero spans, and the error
    CLASS is part of the oracled row.

    DOCUMENTED DIVERGENCE, asserted explicitly: Spark's binaryFile
    source silently DROPS zero-byte files (zerosizedfile.pdf never
    reaches the kernel), so the expected-file list is anti-joined
    against the scan and missing files surface as
    status='dropped_by_source' rows — the divergence is itself an
    oracled fact, not a silent hole.  ``sf_dir`` unused (fixed real
    files; driver calling contract)."""
    payloads = spark.read.format("binaryFile").load(
        os.path.join(MALFORMED_PDF_DIR, "*.pdf")
    )

    def one(path, content):
        status, err, spans = extract_spans(bytes(content))
        return [(
            os.path.basename(path), status, (err or "").split(":")[0],
            len(spans),
        )]

    got = per_doc(
        payloads,
        one,
        "fname string, status string, err_class string, n_spans bigint",
        ("path", "content"),
    )
    expected = spark.createDataFrame(
        [(f,) for f in MALFORMED_PDFS], "fname string"
    )
    dropped = (
        expected.join(got, "fname", "left_anti")
        .select(
            "fname",
            F.lit("dropped_by_source").alias("status"),
            F.lit("zero_byte_file").alias("err_class"),
            F.lit(0).cast("bigint").alias("n_spans"),
        )
    )
    return got.unionByName(dropped)


def mutation_rows(spark, sf_dir: str) -> DataFrame:
    """Driver query `pdf_mutation_golden` (r7): hostile real-corpus
    fuzz as a driver surface.  The reference's seven sample PDFs are
    read through the binaryFile source and each expands in-executor
    into 12 seeded mutants (truncation / startxref corruption /
    bit flips — pdfspark/fuzz.py), every one driven through lenient
    extraction.  The oracle is the pinned per-mutant outcome manifest
    (fuzz_manifest.py): each mutant must land in ok / salvaged /
    error deterministically, with the error CLASS part of the row —
    the reference's must-not-crash contract
    (FileHandlingTest.java:45-55) under web-crawl failure modes.

    r8 breadth: the reference corpus is all classic-layout
    unencrypted, so 8 generator-variant seeds (objstream,
    incremental, hybrid, encrypted, forms, tagged, nospace, classic
    control — fuzz.GEN_FUZZ_VARIANTS) union in, built AND mutated
    in-executor from just their variant names.
    ``sf_dir`` unused (fixed real inputs; driver calling contract)."""
    from .fuzz import GEN_FUZZ_VARIANTS, generator_seed_payload, mutant_rows_for

    schema = (
        "fname string, kind string, seed int, status string,"
        " err_class string, n_spans bigint"
    )
    paths = [os.path.join(REFERENCE_PDF_DIR, f) for f in REFERENCE_PDFS]
    payloads = spark.read.format("binaryFile").load(paths)

    def one(path, content):
        return mutant_rows_for(os.path.basename(path), bytes(content))

    def one_seed(variant):
        return mutant_rows_for(*generator_seed_payload(variant))

    gen_seeds = spark.createDataFrame(
        [(v,) for v in GEN_FUZZ_VARIANTS], "variant string"
    ).repartition(len(GEN_FUZZ_VARIANTS))
    return per_doc(payloads, one, schema, ("path", "content")).unionByName(
        per_doc(gen_seeds, one_seed, schema, ("variant",))
    )


def form_fields_rows(spark, sf_dir: str) -> DataFrame:
    """AcroForm field extraction (driver query `pdf_form_fields`, r5):
    the generator plants 1-5 typed fields (/FT rotating Tx/Btn/Ch),
    nesting the first two under a non-terminal parent whose
    inheritable /FT the kids omit — the kernel's §12.7 DFS rebuilds
    dotted full names and the inheritance chain, emitting (pos, name,
    ftype, value) per terminal field, all closed-form in doc_id."""
    payloads = generate_payloads(load_documents(spark, sf_dir), "acroform")

    def one(did, payload):
        return [(did, *r) for r in parse_document(bytes(payload)).form_fields()]

    return per_doc(
        payloads,
        one,
        "doc_id bigint, pos int, name string, ftype string, value string",
    )


def links_rows(spark, sf_dir: str) -> DataFrame:
    """Link-graph extraction (driver query `pdf_links`): one /Link
    annotation with a /URI action per page; the kernel walks page
    /Annots and emits (page_idx, uri) — the hyperlink projection a
    web-scale pipeline extracts alongside text."""
    payloads = generate_payloads(load_documents(spark, sf_dir), "navigation")

    def one(did, payload):
        return [(did, *r) for r in parse_document(bytes(payload)).link_uris()]

    return per_doc(payloads, one, "doc_id bigint, page_idx int, uri string")


PAGE_MODES_ROTATION = (
    "UseNone", "UseOutlines", "UseThumbs", "FullScreen", "UseOC", "UseAttachments",
)


def catalog_fields_rows(spark, sf_dir: str) -> DataFrame:
    """M9 end-to-end: the generator writes catalog /Lang (from the
    documents.lang column) and /PageMode (rotating by doc_id); the
    metadata kernel reads them back. Oracle: the source columns."""

    def build(did: int, text: str, lang: str) -> bytes:
        mode = PAGE_MODES_ROTATION[did % len(PAGE_MODES_ROTATION)]
        return build_pdf(
            str(did),
            synth_spans_py(str(did), text),
            "classic",
            catalog_extra={"Lang": CString.from_text(lang), "PageMode": Name(mode)},
        )

    payloads = _build_payloads(
        load_documents(spark, sf_dir), build, ("doc_id", "text", "lang")
    )
    meta = extract_metadata(payloads)
    return meta.select("doc_id", "lang", "page_mode")


PAGE_LABEL_STYLES = ("D", "R", "r", "A", "a")
PL_REP = 4  # text amplification: the raw documents rows cap at 2
# pages; x4 spreads page counts over 1..8 so multi-range schedules,
# the prefix-only range, and the /Kids tree shape all get exercised


def _page_label_ranges(did: int, n_pages: int) -> list:
    """The deterministic §12.4.2 label schedule the generator writes
    and the oracle re-derives: range at page 0 rotates the numbering
    style by doc_id (/St omitted when it would be the default 1);
    docs with >= 3 pages open a second prefixed range at page 2 —
    prefix-only (no /S) when doc_id % 7 == 0."""
    r1 = CDict()
    r1[Name("S")] = Name(PAGE_LABEL_STYLES[did % 5])
    st1 = did % 3 + 1
    if st1 != 1:  # exercise the /St default
        r1[Name("St")] = st1
    ranges = [(0, r1)]
    if n_pages >= 3:
        r2 = CDict()
        r2[Name("P")] = CString.from_text(f"x{did % 10}-")
        if did % 7 != 0:  # %7==0 -> prefix-only range
            r2[Name("S")] = Name(PAGE_LABEL_STYLES[(did // 5) % 5])
            r2[Name("St")] = 1
        ranges.append((2, r2))
    return ranges


def page_label_tree(did: int, n_pages: int):
    """/PageLabels number tree for the schedule: doc_id % 4 == 0 with
    two ranges exercises the /Kids + /Limits shape (§7.9.7); the kids
    stay direct dicts (legal — deref handles both). Everything else
    gets a flat /Nums leaf."""
    ranges = _page_label_ranges(did, n_pages)
    root = CDict()
    if did % 4 == 0 and len(ranges) == 2:
        kids = []
        for start, d in ranges:
            leaf = CDict()
            leaf[Name("Nums")] = [start, d]
            leaf[Name("Limits")] = [start, start]
            kids.append(leaf)
        root[Name("Kids")] = kids
    else:
        nums = []
        for start, d in ranges:
            nums += [start, d]
        root[Name("Nums")] = nums
    return root


def page_labels_rows(spark, sf_dir: str) -> DataFrame:
    """/PageLabels end-to-end (driver query `pdf_page_labels`): the
    generator writes a §12.4.2 page-label number tree rotating through
    every numbering style, /St starts, a prefix-only range, and both
    tree shapes (flat /Nums vs /Kids leaves with /Limits); the kernel
    walks the tree back into one display label per page. Oracle: the
    same closed-form label schedule in SQL (styles re-derived from
    doc_id, page count from the amplified span formula). EXTENSION —
    the reference reads no number trees (its catalog surface is
    PDFDocCatalog.java's mode/layout/lang trio)."""

    def build(did: int, text: str) -> bytes:
        spans = synth_spans_py(str(did), str(text) * PL_REP)
        n_pages = max(1, -(-len(spans) // SPANS_PER_PAGE))
        return build_pdf(
            str(did), spans, "classic",
            catalog_extra={"PageLabels": page_label_tree(did, n_pages)},
        )

    def one(did, payload):
        labels = parse_document(bytes(payload)).page_labels()
        return [(did, idx, lab) for idx, lab in enumerate(labels)]

    return per_doc(
        _build_payloads(load_documents(spark, sf_dir), build),
        one,
        "doc_id bigint, page_idx int, label string",
    )


def date_rows(spark, sf_dir: str) -> DataFrame:
    """C5 oracle query: the kernel parses the generator's
    D:YYYYMMDDHHmmSS+02'00' CreationDate and normalizes to UTC; DuckDB
    re-derives the same instant from the md5 the generator used
    (codec._det_date)."""
    payloads = generate_payloads(load_documents(spark, sf_dir), "classic")
    meta = extract_metadata(payloads)
    return meta.select("doc_id", "creation_date", "creation_ts")


def span_stats_rows(spark, sf_dir: str) -> DataFrame:
    """Extraction output joined back to the documents dim (broadcast)
    + aggregation: per-(lang, kind) span counts and text volume —
    the UDF-output-into-relational-shell path (driver query
    `pdf_span_stats`)."""
    rows = roundtrip_rows(spark, sf_dir, variant="classic")
    dim = load_documents(spark, sf_dir).select("doc_id", "lang")
    return (
        rows.join(F.broadcast(dim), "doc_id")
        .groupBy("lang", "kind")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.coalesce(F.length("text"), F.lit(0))).alias("text_chars"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


# ---------------------------------------------------------------------------
# S1 — real-file source: spark.read.format("binaryFile") over ad-hoc
# PDFs (the reference's PDFFile.open(File) path, PDFFile.java:52-58)
# ---------------------------------------------------------------------------


def extract_pdf_files(spark, path_glob: str) -> DataFrame:
    """Directory/glob of *.pdf → (path, status, error, spans[]).
    binaryFile scan gives (path, modificationTime, length, content);
    column pruning keeps only (path, content).

    KNOWN LIMIT (verified empirically): Spark's binaryFile source
    silently DROPS zero-byte files at the scan — they never reach the
    kernel's error bucket. At corpus scale, ingest accounting must
    come from an independent listing (or the Iceberg manifest), not
    from this scan's row count."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.pdf")
        .load(path_glob)
        .select(F.col("path"), F.col("content").alias("payload"))
    )
    return per_doc(
        files,
        _spans_row,
        f"path string, status string, error string, spans {SPANS_SCHEMA}",
        ("path", "payload"),
    )


# ---------------------------------------------------------------------------
# The PDF driver queries: (spark, sf_dir) → DataFrame, in registration
# order (__spark_entry__ moves its driver window to the front)
# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable]:
    return {
        "pdf_roundtrip_interleaved": partial(roundtrip_rows, variant="mixed"),
        "pdf_roundtrip_objstream": partial(roundtrip_rows, variant="objstream"),
        "pdf_roundtrip_incremental": partial(roundtrip_rows, variant="incremental"),
        "pdf_roundtrip_filters": partial(roundtrip_rows, variant="filters_rotate"),
        "pdf_roundtrip_encrypted": partial(roundtrip_rows, variant="encrypted"),
        "pdf_roundtrip_cjk": partial(roundtrip_rows, variant="cjk"),
        "pdf_roundtrip_cjk_embedded": partial(roundtrip_rows, variant="cjk:embedded"),
        "pdf_roundtrip_hanzi": partial(roundtrip_rows, variant="cjk:hanzi"),
        "pdf_roundtrip_japan1": partial(roundtrip_rows, variant="cjk:japan1"),
        "pdf_roundtrip_gb1": partial(roundtrip_rows, variant="cjk:gb1"),
        "pdf_roundtrip_cns1": partial(roundtrip_rows, variant="cjk:cns1"),
        "pdf_roundtrip_korea1": partial(roundtrip_rows, variant="cjk:korea1"),
        "pdf_roundtrip_forms": partial(roundtrip_rows, variant="forms"),
        "pdf_roundtrip_type3": partial(roundtrip_rows, variant="type3"),
        "pdf_roundtrip_pubsec": partial(roundtrip_rows, variant="pubsec"),
        "pdf_reading_order": partial(
            roundtrip_rows, variant="tagged", reading_order=True
        ),
        "pdf_roundtrip_nospace": partial(
            roundtrip_rows, variant="nospace", infer_spaces=True
        ),
        "pdf_salvage": salvage_rows,
        "pdf_salvage_encrypted": partial(salvage_rows, encrypted=True),
        "pdf_span_geometry": partial(geometry_rows, variant="classic"),
        # per-CID /W [0 127 500] + /DW 1000 give ASCII the simple font's
        # 500/1000-em advance, so the same closed-form oracle holds
        "pdf_span_geometry_cid": partial(geometry_rows, variant="cjk:embedded"),
        # the form-1 TJ kern (-250 at Tfs 12, Tz 50) widens by exactly 1.5
        "pdf_span_geometry_kerned": partial(
            geometry_rows, variant="classic", tj_kerning=True
        ),
        # /Widths 32 × FontMatrix 1/64 (exact binary fraction) = 500/1000 em
        "pdf_span_geometry_type3": partial(geometry_rows, variant="type3"),
        "pdf_attachments": attachments_rows,
        "pdf_outlines": outlines_rows,
        "pdf_links": links_rows,
        "pdf_form_fields": form_fields_rows,
        "pdf_reference_golden": reference_golden_rows,
        "pdf_malformed_golden": reference_malformed_rows,
        "pdf_mutation_golden": mutation_rows,
        "pdf_malformed_policy": status_rows,
        "pdf_metadata": metadata_rows,
        "pdf_dates": date_rows,
        "pdf_span_stats": span_stats_rows,
        "pdf_catalog_fields": catalog_fields_rows,
        "pdf_page_labels": page_labels_rows,
    }
