"""Corruption-robustness tests: at 10^12 documents every corruption
WILL occur; the contract (§2.8) is that a corrupt document fails only
as the typed EParseError, which extract_spans returns as
(status='error', error, []) — it may reject, it must never raise or
hang. Any other exception is a kernel bug, escapes the wrapper and
fails the test. Seeded mutations + hypothesis-driven token fuzz."""

from __future__ import annotations

import random
import re
import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from conftest import one_page_pdf
from pdfspark.codec import build_pdf, synth_spans_py
from pdfspark.kernel import extract_meta, extract_spans
from pdfspark.kernel.cos import parse_object
from pdfspark.kernel.errors import EParseError
from pdfspark.kernel.raw import Raw

BASE = build_pdf("f1", synth_spans_py("f1", "word stream spark " * 30), "classic")
BASE_OBJ = build_pdf("f2", synth_spans_py("f2", "word stream spark " * 30), "objstream")


def _mutate(rng: random.Random, data: bytes) -> bytes:
    kind = rng.randrange(5)
    b = bytearray(data)
    if kind == 0 and b:  # flip random bytes
        for _ in range(rng.randrange(1, 9)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        return bytes(b)
    if kind == 1:  # truncate
        return bytes(b[: rng.randrange(len(b) + 1)])
    if kind == 2:  # drop a slice
        i = rng.randrange(len(b))
        j = min(len(b), i + rng.randrange(1, 64))
        return bytes(b[:i] + b[j:])
    if kind == 3:  # duplicate a slice (shifts offsets)
        i = rng.randrange(len(b))
        j = min(len(b), i + rng.randrange(1, 64))
        return bytes(b[:j] + b[i:j] + b[j:])
    # garbage insertion
    i = rng.randrange(len(b))
    junk = bytes(rng.randrange(256) for _ in range(rng.randrange(1, 32)))
    return bytes(b[:i] + junk + b[i:])


@pytest.mark.parametrize("base", [BASE, BASE_OBJ], ids=["classic", "objstream"])
def test_mutation_never_raises(base):
    rng = random.Random(1234)
    statuses = {"ok": 0, "error": 0}
    for _ in range(300):
        mutated = _mutate(rng, base)
        status, err, spans = extract_spans(mutated)
        statuses[status] += 1
        if status == "error":
            assert spans == [] and err
        st2, _, _ = extract_meta(mutated)
        assert st2 in ("ok", "error")
    # both outcomes must occur: some mutations are fatal, some are in
    # slack regions the parser tolerates
    assert statuses["error"] > 0 and statuses["ok"] > 0


def test_nested_depth_bomb_rejected():
    # deeply nested arrays inside an object must not blow the stack
    # into a hard crash — the COS parser is iterative, so the bomb
    # parses or fails as EParseError; a RecursionError would escape
    bomb = BASE.replace(b"/Keywords", b"/K " + b"[" * 4000 + b"]" * 4000 + b" /Keywords", 1)
    status, err, spans = extract_spans(bomb)
    assert status in ("ok", "error")


def test_huge_length_claim_rejected():
    # a stream claiming /Length far beyond EOF must error, not hang
    corrupted = BASE.replace(b"/Length", b"/XLength", 1)
    i = BASE.find(b"/Length ")
    num_end = BASE.find(b" ", i + 8)
    corrupted = BASE[:i] + b"/Length 99999999" + BASE[num_end:]
    status, _, _ = extract_spans(corrupted)
    assert status == "error"


def test_zlib_garbage_stream():
    # valid structure, garbage Flate body → that document errors
    i = BASE.find(b"stream\n") + 7
    corrupted = BASE[:i] + bytes(range(32)) + BASE[i + 32 :]
    status, _, _ = extract_spans(corrupted)
    assert status in ("ok", "error")  # never raises
    try:
        zlib.decompress(bytes(range(32)))
        raise AssertionError("garbage should not inflate")
    except zlib.error:
        pass


@given(st.binary(max_size=300))
@settings(max_examples=300, deadline=None, derandomize=True)
def test_parse_object_total(data):
    """The tokenizer is total: any byte string either parses to a
    value or raises EParseError — no other exception type escapes
    (hypothesis sweep; the parser keeps an explicit stack, so deep
    nesting is no RecursionError either)."""
    try:
        parse_object(Raw(data))
    except EParseError:
        pass


def test_parse_object_deep_nesting_is_not_recursion():
    for bomb in (b"[" * 100_000, b"<< /A " * 50_000):
        try:
            parse_object(Raw(bomb))
        except EParseError:
            pass


@given(st.binary(max_size=2048))
@settings(max_examples=200, deadline=None, derandomize=True)
def test_extract_total(data):
    status, err, spans = extract_spans(data)
    assert status in ("ok", "error")
    if status == "error":
        assert spans == []


R4_VARIANTS = ("encrypted", "cjk:embedded", "attachments", "navigation")


@pytest.mark.parametrize("variant", R4_VARIANTS)
def test_r4_variant_mutations_never_raise(variant):
    """The r4 structural surfaces under corruption: encryption (all
    four ciphers × layouts), chained embedded CMaps, name trees and
    outline/annotation graphs must keep the PERMISSIVE contract."""
    base = build_pdf(
        "fz" + variant, synth_spans_py("fz" + variant, "fuzz seed " * 25),
        variant,
    )
    rng = random.Random(zlib.crc32(variant.encode()) & 0xFFFF)
    for _ in range(150):
        mutated = _mutate(rng, base)
        status, err, spans = extract_spans(mutated)
        assert status in ("ok", "error")
        if status == "error":
            assert spans == [] and err


@pytest.mark.parametrize(
    "variant, method",
    [
        ("attachments", "embedded_files"),
        ("navigation", "outlines"),
        ("navigation", "link_uris"),
        ("acroform", "form_fields"),
    ],
)
def test_document_walk_mutations_fail_typed(variant, method):
    """The per_doc stages that walk the document model directly (no
    status wrapper) must fail a corrupt document only with
    EParseError, which per_doc turns into zero rows; anything else
    would fail the task."""
    from pdfspark.kernel import parse_document

    base = build_pdf(
        "fw" + variant, synth_spans_py("fw" + variant, "walk seed " * 25),
        variant,
    )
    rng = random.Random(zlib.crc32(method.encode()))
    for _ in range(150):
        try:
            getattr(parse_document(_mutate(rng, base)), method)()
        except EParseError:
            pass


@pytest.mark.parametrize("variant", ("classic", "objstream", "encrypted"))
def test_lenient_reconstruction_mutations_never_raise(variant):
    """RECONSTRUCTION under corruption — the riskiest path: lenient
    mode runs the whole-file scan + trailer harvest + (for encrypted
    docs) the unlock-then-expand sequence on arbitrarily damaged
    input, and must still only ever return the status tuple."""
    from pdfspark.kernel.errors import ParserSettings

    lenient = ParserSettings(allow_reconstruction=True)
    base = build_pdf(
        "fr" + variant, synth_spans_py("fr" + variant, "recon seed " * 25),
        variant,
    )
    cut = base[: base.rfind(b"startxref")] + b"%%EOF\n"
    rng = random.Random(0xF00D + zlib.crc32(variant.encode()) % 997)
    for seed_doc in (base, cut):
        for _ in range(120):
            mutated = _mutate(rng, seed_doc)
            status, err, spans = extract_spans(mutated, lenient)
            assert status in ("ok", "error")
            if status == "error":
                assert spans == [] and err


# ---------------------------------------------------------------------------
# r7: the seeded reference-corpus mutation surface (pdf_mutation_golden)
# ---------------------------------------------------------------------------


def _reference_corpus():
    import os

    from pdfspark.engine import REFERENCE_PDF_DIR, REFERENCE_PDFS

    out = []
    for rel in REFERENCE_PDFS:
        path = os.path.join(REFERENCE_PDF_DIR, rel)
        if not os.path.exists(path):
            continue
        with open(path, "rb") as f:
            out.append((os.path.basename(rel), f.read()))
    return out


def test_mutation_corpus_matches_pinned_manifest():
    """Every seeded mutant of the reference corpus lands in its pinned
    ok/salvaged/error bucket with the pinned span count — the
    serial twin of driver query pdf_mutation_golden."""
    from pdfspark.fuzz import generator_seed_files, mutant_rows_for
    from pdfspark.fuzz_manifest import MUTATION_MANIFEST

    got = []
    for fname, data in _reference_corpus():
        got.extend(mutant_rows_for(fname, data))
    for fname, data in generator_seed_files():  # r8 variant seeds
        got.extend(mutant_rows_for(fname, data))
    assert got == list(MUTATION_MANIFEST)


def test_mutation_failures_are_always_typed():
    """The must-throw contract (FileHandlingTest.java:45-55) under
    mutation: no failure may escape as anything but the kernel's
    typed EParseError — a KeyError/ZeroDivisionError here is a
    missing §2.8 guard, not a legitimate outcome."""
    from pdfspark.fuzz_manifest import MUTATION_MANIFEST

    classes = {ec for (_f, _k, _s, st, ec, _n) in MUTATION_MANIFEST if st == "error"}
    assert classes == {"EParseError"}
    # and the corpus exercises all three outcome buckets
    assert {st for (_f, _k, _s, st, _e, _n) in MUTATION_MANIFEST} == {
        "ok", "salvaged", "error",
    }


def test_salvaged_flag_discriminates_recovery_paths():
    """parser.salvaged: False on a clean parse, True when the file
    only parses through §C.2 reconstruction."""
    from pdfspark.kernel.extract import extract_spans_fuzz

    clean = build_pdf("fz1", synth_spans_py("fz1", "clean doc " * 20), "classic")
    status, err, spans = extract_spans_fuzz(clean)
    assert (status, err) == ("ok", "") and spans

    broken = clean[: clean.rfind(b"startxref")] + b"%%EOF\n"
    status2, err2, spans2 = extract_spans_fuzz(broken)
    assert (status2, err2) == ("salvaged", "") and spans2 == spans


def test_status_wrappers_let_kernel_bugs_through(monkeypatch):
    """Only EParseError is a broken document. Any other exception in
    the kernel is a bug: the status wrappers must let it through, so
    engine.per_doc fails the task instead of writing an error row."""
    from pdfspark.kernel import extract as X
    from pdfspark.kernel.docmodel import Document

    def bug(*_a, **_k):
        raise TypeError("injected")

    monkeypatch.setattr(X, "interpret_content", bug)
    monkeypatch.setattr(Document, "info_fields", bug)
    with pytest.raises(TypeError, match="injected"):
        extract_spans(BASE)
    with pytest.raises(TypeError, match="injected"):
        X.extract_spans_fuzz(BASE)
    with pytest.raises(TypeError, match="injected"):
        extract_meta(BASE)


def test_a85_group_overflow_is_a_broken_document():
    """An ASCII85 group above 2^32-1 (``uuuuu``) is malformed input:
    EParseError, so extract_spans reports the document as an error
    row instead of letting an OverflowError fail the task."""
    from pdfspark.kernel.filters import a85_encode

    a85 = b"/Filter /ASCII85Decode "
    good = one_page_pdf(a85_encode(b"BT (ok) Tj ET") + b"~>", a85)
    status, err, spans = extract_spans(good)
    assert status == "ok" and [s[1] for s in spans] == ["ok"]
    for body in (b"uuuuu~>", b"uu~>", b"!!!!!uuuuu~>"):
        status, err, spans = extract_spans(one_page_pdf(body, a85))
        assert (status, err, spans) == (
            "error", "EParseError: ascii85 group overflow", []
        ), body


@pytest.mark.parametrize(
    "content",
    [
        b"BT " + b"9" * 400 + b" 0 Td (m) Tj ET",  # int beyond double
        b"BT 9223372036854775808 0 Td (m) Tj ET",  # int beyond int64
        b"BT " + b"9" * 400 + b".5 0 Td (m) Tj ET",  # real beyond double
        b"q " + b"9" * 30 + b" 0 0 1 0 0 cm BT (m) Tj ET Q",
    ],
)
def test_out_of_range_operand_is_a_broken_document(content):
    status, err, spans = extract_spans(one_page_pdf(content))
    assert status == "error" and err.startswith("EParseError:") and spans == []


@pytest.mark.parametrize(
    "old, new",
    [
        (b"/W [1 ", b"/W [/ "),
        (b"/W [1 ", b"/W [() "),
        (b"/W [1 ", b"/W [true "),
        (b"/Index [0 ", b"/Index [/a "),
        (b"/Index [0 ", b"/Index [() "),
    ],
    ids=["W-name", "W-string", "W-bool", "Index-name", "Index-string"],
)
def test_non_numeric_xref_stream_entry_is_a_broken_document(old, new):
    """An xref stream /W or /Index entry that is no number is malformed
    input: EParseError, not the ValueError/TypeError of int()."""
    assert BASE_OBJ.count(old) == 1
    doc = BASE_OBJ.replace(old, new)
    assert extract_spans(doc)[0] == "error"
    assert extract_meta(doc)[0] == "error"


_NUMBER_TOKEN = re.compile(rb"(?<![\w.#/])-?\d+(?:\.\d*)?(?![\w.])")
_BAD_NUMBERS = (
    b"9" * 400, b"-" + b"9" * 400, b"9" * 400 + b".5", b"1" + b"0" * 300 + b".0",
    b"99999999999999999999", b"9223372036854775807", b"-9223372036854775808",
    b"/", b"()",
)


@pytest.mark.parametrize(
    "variant", ("classic", "objstream", "filters:none", "cjk:embedded", "navigation")
)
def test_out_of_range_numbers_fail_typed(variant):
    """Seeded sweep: one number token of a generated document (in a
    dictionary, an xref row, a /Widths array, a content stream…) is
    replaced by an integer or real no 64-bit reader holds, or by a
    token that is no number at all (an empty name or string). Every
    status wrapper and document walk must still fail only as
    EParseError."""
    from pdfspark.kernel import parse_document
    from pdfspark.kernel.extract import extract_spans_doc, extract_spans_fuzz

    base = build_pdf(
        "nr" + variant, synth_spans_py("nr" + variant, "range seed " * 20), variant
    )
    rng = random.Random(zlib.crc32(variant.encode()))
    tokens = [m.span() for m in _NUMBER_TOKEN.finditer(base)]
    for i, j in rng.sample(tokens, min(len(tokens), 40)):
        doc = base[:i] + rng.choice(_BAD_NUMBERS) + base[j:]
        assert extract_spans(doc)[0] in ("ok", "error")
        assert extract_meta(doc)[0] in ("ok", "error")
        assert extract_spans_fuzz(doc)[0] in ("ok", "salvaged", "error")
        for walk in (
            lambda: extract_spans_doc(doc, geometry=True, tj_kerning=True),
            lambda: parse_document(doc).outlines(),
            lambda: parse_document(doc).link_uris(),
        ):
            try:
                walk()
            except EParseError:
                pass
