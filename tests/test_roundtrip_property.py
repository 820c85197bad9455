"""Whole-document round-trip property tests: generator → extractor
identity on seeded random span sequences across every structural
variant (the reference's checkProduceParsePair pattern lifted to
documents; SURVEY.md §7 Milestone 3)."""

from __future__ import annotations

import random
import zlib

import pytest

from pdfspark.codec import MALFORMED_KINDS, build_pdf, synth_spans_py
from pdfspark.kernel import extract_spans

VARIANTS = [
    "classic",
    "crlf",
    "objstream",
    "hybrid",
    "incremental",
    "filters:flate",
    "filters:lzw",
    "filters:a85",
    "filters:ahx",
    "filters:rl",
    "filters:a85+flate",
    "filters:ahx+rl",
    "filters:none",
]

WORDS = (
    "the fast key order sort table scan merge part window small hash join "
    "batch stream spark dup value row data slow filter customer line agg "
    "column big vector query group"
).split()


def random_spans(rng: random.Random, n: int, unicode_frac: float = 0.0):
    spans = []
    off = 0
    for i in range(n):
        if rng.random() < 0.3:
            spans.append(("media", None, f"m{rng.randrange(16**12):012x}", off))
        else:
            words = [rng.choice(WORDS) for _ in range(rng.randrange(1, 14))]
            text = " ".join(words)
            if rng.random() < unicode_frac:
                text += " — déjà vu ünïcode 文字 " + chr(0x1F600)  # astral too
            spans.append(("text", text, None, off))
        off += rng.randrange(1, 3)
    return spans


@pytest.mark.parametrize("variant", VARIANTS)
def test_roundtrip_random_spans(variant):
    rng = random.Random(zlib.crc32(variant.encode()) & 0xFFFF)
    for trial in range(6):
        spans = random_spans(rng, rng.randrange(0, 40))
        payload = build_pdf(f"t{trial}", spans, variant)
        status, err, got = extract_spans(payload)
        assert status == "ok", (variant, trial, err)
        # round-trip preserves (kind, text, media_ref) sequence; the
        # extractor re-derives offsets as emission ordinals
        assert [(k, t, m) for (k, t, m, _) in got] == [
            (k, t, m) for (k, t, m, _) in spans
        ], (variant, trial)


@pytest.mark.parametrize("variant", ["classic", "objstream", "incremental"])
def test_roundtrip_unicode_spans(variant):
    rng = random.Random(7)
    for trial in range(4):
        spans = random_spans(rng, 12, unicode_frac=0.5)
        payload = build_pdf(f"u{trial}", spans, variant)
        status, err, got = extract_spans(payload)
        assert status == "ok", err
        assert [(k, t, m) for (k, t, m, _) in got] == [
            (k, t, m) for (k, t, m, _) in spans
        ]


def test_roundtrip_synth_spans_exact_offsets():
    """For synthesized spans (ordinal offsets), the full 4-tuple
    including offset round-trips exactly — the engine's correctness
    contract (BASELINE.json: span-sequence equality incl. order)."""
    rng = random.Random(99)
    for trial in range(10):
        nwords = rng.randrange(1, 120)
        text = " ".join(rng.choice(WORDS) for _ in range(nwords))
        spans = synth_spans_py(str(trial), text)
        for variant in ("classic", "objstream", "hybrid", "incremental"):
            payload = build_pdf(str(trial), spans, variant)
            status, err, got = extract_spans(payload)
            assert status == "ok", (variant, err)
            assert got == [tuple(s) for s in spans], variant


@pytest.mark.parametrize("kind", MALFORMED_KINDS)
def test_malformed_never_produce_spans(kind):
    payload = build_pdf("m1", synth_spans_py("m1", "some text"), f"malformed:{kind}")
    status, err, spans = extract_spans(payload)
    assert status == "error"
    assert spans == []


def test_incremental_supersede_and_gen_precedence():
    """The decoy content in the base revision must be superseded by
    the update (newest-first indexing), and the gen-1 base object must
    beat the gen-0 update decoy (XRefTable.java:37-43)."""
    spans = synth_spans_py("g1", " ".join(WORDS * 4))
    payload = build_pdf("g1", spans, "incremental")
    # two revisions: two startxref markers, /Prev chain, a gen-1 row
    assert payload.count(b"startxref") == 2
    assert b"/Prev" in payload and b" 00001 n" in payload
    status, err, got = extract_spans(payload)
    assert status == "ok", err
    assert got == [tuple(s) for s in spans]
    texts = " ".join(t or "" for (_, t, _, _) in got)
    assert "DECOY" not in texts


def test_determinism():
    spans = synth_spans_py("d1", "alpha beta gamma " * 30)
    a = build_pdf("d1", spans, "objstream")
    b = build_pdf("d1", spans, "objstream")
    assert a == b


from hypothesis import given, settings
from hypothesis import strategies as st


@given(
    st.lists(
        st.one_of(
            st.tuples(st.just("text"), st.text(max_size=60)),
            st.tuples(st.just("media"), st.text("0123456789abcdef", min_size=4, max_size=12)),
        ),
        max_size=12,
    )
)
@settings(max_examples=120, deadline=None, derandomize=True)
def test_roundtrip_arbitrary_text_hypothesis(items):
    """Generator→extractor identity for ARBITRARY span text — parens,
    backslashes, control bytes, astral unicode, empty strings — and
    arbitrary media refs. The hypothesis form of the reference's
    checkProduceParsePair."""
    spans = []
    for i, (kind, payload) in enumerate(items):
        if kind == "text":
            spans.append(("text", payload, None, i))
        else:
            spans.append(("media", None, "m" + payload, i))
    pdf = build_pdf("h1", spans, "classic")
    status, err, got = extract_spans(pdf)
    assert status == "ok", err
    assert [(k, t, m) for (k, t, m, _) in got] == [
        (k, t, m) for (k, t, m, _) in spans
    ]


# --- round-2 surfaces under the same seeded-random regime -------------------

R2_VARIANTS = ["encrypted", "cjk", "pubsec", "acroform"]


@pytest.mark.parametrize("variant", R2_VARIANTS)
def test_roundtrip_random_spans_r2_variants(variant):
    rng = random.Random(zlib.crc32(variant.encode()) & 0xFFFF)
    for trial in range(6):
        spans = random_spans(rng, rng.randrange(0, 30), unicode_frac=0.3)
        payload = build_pdf(f"r2{trial}", spans, variant)
        status, err, got = extract_spans(payload)
        assert status == "ok", (variant, trial, err)
        assert [(k, t, m) for (k, t, m, _) in got] == [
            (k, t, m) for (k, t, m, _) in spans
        ], (variant, trial)


def test_roundtrip_reconstruction_random():
    """Random spans, startxref stripped, lenient reconstruction must
    still produce the exact sequence — across structural variants."""
    from pdfspark.kernel.errors import ParserSettings

    lenient = ParserSettings(allow_reconstruction=True)
    rng = random.Random(0xC2)
    for variant in ("classic", "crlf", "objstream"):
        spans = random_spans(rng, 15)
        payload = build_pdf("rc", spans, variant)
        i = payload.rfind(b"startxref")
        broken = payload[:i] + b"%%EOF\n"
        status, err, got = extract_spans(broken, lenient)
        assert status == "ok", (variant, err)
        assert [(k, t, m) for (k, t, m, _) in got] == [
            (k, t, m) for (k, t, m, _) in spans
        ], variant


def test_html_strip_random_texts():
    """Random word texts through wrap→strip must reproduce the chunk
    sequence the oracle predicts (trim + min-length filter)."""
    from pdfspark.kernel.htmlops import MIN_BLOCK_CHARS, strip_boilerplate
    from pdfspark.ops.html import CHUNK, wrap_html

    rng = random.Random(0xA7)
    for trial in range(12):
        text = " ".join(rng.choice(WORDS) for _ in range(rng.randrange(1, 200)))
        got = strip_boilerplate(wrap_html(str(trial), text))
        exp = "\n".join(
            c
            for c in (
                text[i : i + CHUNK].strip() for i in range(0, len(text), CHUNK)
            )
            if len(c) >= MIN_BLOCK_CHARS
        )
        assert got == exp, trial


def test_geometry_random_texts_match_closed_form():
    from pdfspark.kernel import extract_spans_doc

    rng = random.Random(0x9E)
    for trial in range(8):
        text = " ".join(rng.choice(WORDS) for _ in range(rng.randrange(1, 150)))
        spans = synth_spans_py(str(trial), text)
        got = extract_spans_doc(build_pdf(str(trial), spans, "classic"), geometry=True)
        for g in got:
            off, x, y = g[3], g[4], g[5]
            kind = g[0]
            pg, j = off // 5, off % 5
            ybase = 720
            for k in range(j):
                ybase -= 60 if (pg * 5 + k) % 4 == 3 else 16
            assert x == 10.0
            if kind == "media":
                assert y == float(ybase)
            else:
                assert y == float(ybase - 14 if j % 4 in (2, 3) else ybase)
