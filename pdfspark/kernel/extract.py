"""Per-document extraction kernel (SURVEY.md §3.3 — the
``parseEverything`` analog plus the text-op layer).

``extract_spans(payload)`` and ``extract_meta(payload)`` are the two
kernels the Spark engine vectorizes over Arrow batches (split in two so
column pruning is real — computing metadata never touches content
streams, mirroring the reference's lazy page materialization,
PDFDocCatalog.java:59-67 / SURVEY §4.1).

The status wrappers (``extract_spans``, ``extract_spans_fuzz``,
``extract_meta``) report an ``EParseError`` — the reference's one
typed error that aborts one document (§2.8) — as status='error' for
that document only. Any other exception is a kernel bug and
propagates, so ``engine.per_doc`` fails the task instead of dropping
a row. The malformed-file contract
(FileHandlingTest.java:32-56: noise / header-only / header+EOF /
zero-length must never produce spans) holds: those payloads fail the
entry-point resolve (X1) and land in the error bucket.
"""

from __future__ import annotations

from typing import Optional

from .cos import CDict
from .docmodel import Document
from .errors import EParseError, ParserSettings
from .filters import decode_stream
from .textops import Span, interpret_content
from .xref import Parser

def parse_document(payload: bytes, settings: Optional[ParserSettings] = None) -> Document:
    """bytes → structural parse → assembled Document (X1-X10 + M1)."""
    p = Parser(payload, settings)
    p.parse()
    if p.is_encrypted:
        # best-effort empty-password unlock BEFORE assembly: Document
        # resolves /Root eagerly (/Info lazily, still post-unlock) and
        # decryption happens at object-resolve time. Callers read
        # parser.security for policy.
        p.unlock(b"")
    return Document(p)


def extract_spans_doc(
    payload: bytes,
    settings: Optional[ParserSettings] = None,
    geometry: bool = False,
    tj_kerning: bool = False,
    reading_order: bool = False,
    infer_spaces: bool = False,
    _want_doc: bool = False,
) -> list[tuple]:
    """One document → ordered [(kind, text, media_ref, offset)], or
    with ``geometry=True`` [(kind, text, media_ref, offset, x, y, w,
    h)] — span-start device-space positions (textops.Span contract).

    Page order = page-tree DFS (M4); within a page, content streams in
    /Contents order are concatenated (ISO 32000-1 §7.8.2: multiple
    streams form one logical stream); offset = global emission ordinal.

    ``reading_order=True`` (r8): when the document is TAGGED
    (/StructTreeRoot present), spans are ordered by structure-tree
    traversal instead of raw content order — the §14.8 logical
    reading order a multi-column page needs. Each page is interpreted
    once (text state carries across its marked content, §9.3.1) and
    its span list is cut at the top-level BDC/BMC/EMC edges the
    interpreter reports (``mark``): a span belongs to the section
    open when it is emitted (a text span at its ET), nested marked
    content stays in its outer section, a stray top-level EMC is
    ignored and an unterminated section runs to the end of the page.
    The pieces are grouped by (page, MCID) and sequenced by the
    structure walk; marked content the tree never references follows
    in (page, MCID) order, and untagged spans come last in content
    order. Untagged documents fall back to content order unchanged.
    """
    doc = parse_document(payload, settings)
    if doc.parser.is_encrypted and doc.parser.security.key is None:
        # M10 policy, extended past the reference (README.md:5 has no
        # decryption at all): empty-user-password docs — the common
        # real-corpus case — decrypt transparently (crypt.py, RC4 +
        # AES-128); passworded docs route to the error bucket
        raise EParseError("encrypted document: password required")
    resolver = doc.parser._resolve
    order = doc.struct_order() if reading_order else None
    font_cache: dict = {}
    spans_seq: list = []  # content order, or the untagged spans
    tagged: dict[tuple, list] = {}  # (page, MCID) → spans
    for pidx, page in enumerate(doc.pages()):
        if not page.contents:
            continue
        # §7.8.2: division between streams is only ever at a
        # lexical token boundary → join with a newline
        data = b"\n".join(
            decode_stream(c.data, c.dict, resolver) for c in page.contents
        )
        if order is None:
            spans_seq.extend(
                interpret_content(
                    data, page.resources, resolver, doc_font_cache=font_cache,
                    tj_kerning=tj_kerning, infer_spaces=infer_spaces,
                )
            )
            continue
        cuts = [(0, None)]  # (span index, MCID of the piece starting there)
        depth = 0

        def mark(op, props, n):
            nonlocal depth
            if op == b"EMC":
                if depth:
                    depth -= 1
                    if not depth:
                        cuts.append((n, None))
                return
            if not depth:
                mcid = props.get("MCID") if isinstance(props, CDict) else None
                cuts.append((n, mcid if type(mcid) is int else None))
            depth += 1

        sps = interpret_content(
            data, page.resources, resolver, doc_font_cache=font_cache,
            tj_kerning=tj_kerning, infer_spaces=infer_spaces, mark=mark,
        )
        cuts.append((len(sps), None))
        for (a, mcid), (b, _) in zip(cuts, cuts[1:]):
            if mcid is None:
                spans_seq.extend(sps[a:b])
            else:
                tagged.setdefault((pidx, mcid), []).extend(sps[a:b])
    if order is not None:
        ordered: list = []
        # the logical sequence (first ref wins), then unreferenced
        # marked content
        for key in dict.fromkeys([*order, *sorted(tagged)]):
            ordered.extend(tagged.get(key, ()))
        spans_seq = ordered + spans_seq
    out: list[tuple] = []
    for ordinal, sp in enumerate(spans_seq):
        if geometry:
            out.append((sp[0], sp[1], sp[2], ordinal, sp[3], sp[4], sp[5], sp[6]))
        else:
            out.append((sp[0], sp[1], sp[2], ordinal))
    if _want_doc:
        return (doc, out)
    return out


def extract_spans(
    payload: bytes,
    settings: Optional[ParserSettings] = None,
    reading_order: bool = False,
    infer_spaces: bool = False,
) -> tuple[str, Optional[str], list[tuple]]:
    """Status wrapper → (status, error, spans); an EParseError is
    status='error'."""
    try:
        return (
            "ok",
            None,
            extract_spans_doc(
                payload, settings, reading_order=reading_order,
                infer_spaces=infer_spaces,
            ),
        )
    except EParseError as e:  # per-document fault policy (§2.8)
        return ("error", f"{type(e).__name__}: {e}", [])


def extract_spans_fuzz(
    payload: bytes,
) -> tuple[str, str, list[tuple]]:
    """Hostile-corpus wrapper (driver query `pdf_mutation_golden`):
    lenient parse (§C.2 reconstruction on) → three-way status:

    - ``ok``        clean entry-point parse, spans extracted
    - ``salvaged``  a recovery path ran (reconstruction or the
                    stale-startxref rescan) and extraction succeeded
    - ``error``     extraction raised EParseError (err_class)

    Mirrors the reference's must-not-crash contract
    (FileHandlingTest.java:45-55) under seeded mutations of its own
    sample corpus — the web-crawl failure modes."""
    settings = ParserSettings(allow_reconstruction=True)
    try:
        doc_spans = extract_spans_doc(payload, settings, _want_doc=True)
        doc, spans = doc_spans
        status = "salvaged" if doc.parser.salvaged else "ok"
        return (status, "", spans)
    except EParseError as e:
        return ("error", type(e).__name__, [])


def extract_meta_doc(payload: bytes, settings: Optional[ParserSettings] = None) -> dict:
    """Metadata-only kernel: info projection (M7), page count (M3 —
    the lazy /Count read, pages NOT materialized), catalog fields
    (M9), encryption flag (M10). Never touches content streams."""
    # NB encrypted docs: parse_document already attempted the
    # empty-password unlock; a passworded doc still yields metadata
    # (ciphered strings), matching the reference's flag-only posture
    doc = parse_document(payload, settings)
    meta = doc.info_fields()
    meta.update(doc.catalog_fields())
    meta["page_count"] = doc.page_count()
    meta["encrypted"] = doc.parser.is_encrypted
    # C5: parsed CreationDate normalized to naive UTC
    from datetime import timezone

    from .docmodel import parse_pdf_date

    dt = parse_pdf_date(meta.get("creation_date", ""))
    meta["creation_ts"] = (
        dt.astimezone(timezone.utc).replace(tzinfo=None) if dt else None
    )
    return meta


def extract_meta(
    payload: bytes, settings: Optional[ParserSettings] = None
) -> tuple[str, Optional[str], Optional[dict]]:
    """Status wrapper → (status, error, meta); an EParseError is
    status='error'."""
    try:
        return ("ok", None, extract_meta_doc(payload, settings))
    except EParseError as e:
        return ("error", f"{type(e).__name__}: {e}", None)
