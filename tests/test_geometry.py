"""Span geometry (textops Tm×CTM projection): the generator's layout
is closed-form (codec._content_for), so expected (x, y, w, h) per
span is exact; real reference PDFs must produce finite positions."""

from __future__ import annotations

from conftest import ref_bytes
from pdfspark.codec import build_pdf, synth_spans_py
from pdfspark.kernel import extract_spans_doc


def _expected_geo(n_spans: int, tlens=None, nsps=None):
    """Mirror of the SQL oracle in __spark_entry__ (pdf_span_geometry):
    text w = full §9.4.4 advance with the generator's per-form Tc/Tw/Tz
    (codec._content_for — constant 500/1000-em /Widths at size 12)."""
    out = []
    for off in range(n_spans):
        kind = "media" if off % 4 == 3 else "text"
        pg, j = off // 5, off % 5
        ybase = 720
        for k in range(j):
            ko = pg * 5 + k
            ybase -= 60 if ko % 4 == 3 else 16
        if kind == "media":
            out.append((kind, off, 10.0, float(ybase), 100.0, 50.0))
        else:
            y = ybase - 14 if j % 4 in (2, 3) else ybase
            w = None
            if tlens:
                tlen = tlens[off]
                nsp = (nsps or {}).get(off, 0)
                form = j % 4
                if form == 0:
                    w = 6.25 * tlen + 0.5 * nsp
                elif form == 1:
                    w = 3.0 * tlen
                elif form == 2:
                    w = 6.125 * tlen
                else:
                    w = 3.5 * tlen + nsp
            out.append((kind, off, 10.0, float(y), w, 12.0))
    return out


def _tlens(spans):
    return {off: len(t or "") for (k, t, _m, off) in spans}


def _nsps(spans):
    return {off: (t or "").count(" ") for (k, t, _m, off) in spans}


def test_generator_layout_geometry_exact():
    text = "y" * (80 * 11)  # 11 chunks -> 11 + 3 = 14 spans, 3 pages
    spans = synth_spans_py("geo1", text)
    payload = build_pdf("geo1", spans, "classic")
    got = extract_spans_doc(payload, geometry=True)
    assert [(g[0], g[3], g[4], g[5], g[6], g[7]) for g in got] == _expected_geo(
        len(spans), _tlens(spans)
    )


def test_tj_kerning_flag_widens_form1_spans():
    """tj_kerning=True: the generator's form-1 TJ arrays carry one
    -250 kern between the two halves → width +((250/1000)·12)·Th(0.5)
    = +1.5 exactly; every other form (and 1-char spans) unchanged;
    the default path stays kern-free (ROADMAP #5 closure)."""
    text = "abcd efgh " * 24  # 3 chunks, all forms exercised
    spans = synth_spans_py("kern1", text)
    payload = build_pdf("kern1", spans, "classic")
    plain = extract_spans_doc(payload, geometry=True)
    kerned = extract_spans_doc(payload, geometry=True, tj_kerning=True)
    assert len(plain) == len(kerned)
    tlens = _tlens(spans)
    saw_kern = 0
    for a, b in zip(plain, kerned):
        assert a[:6] == b[:6]  # kind/text/ref/offset/x/y identical
        off = a[3]
        ordinal = off  # classic layout: span ordinal == offset
        if a[0] == "text" and ordinal % 4 == 1 and tlens[off] > 1:
            assert b[6] == a[6] + 1.5, (a, b)
            saw_kern += 1
        else:
            assert b[6] == a[6], (a, b)
    assert saw_kern > 0


def test_word_spacing_applies_to_spaces():
    """Tw contributes per byte-32 (forms 0 and 3); Tc per glyph; Tz
    scales — text WITH spaces pins all three knobs at once."""
    text = ("word gap " * 100)[: 80 * 6]  # spaces in every chunk
    spans = synth_spans_py("geo3", text)
    payload = build_pdf("geo3", spans, "classic")
    got = extract_spans_doc(payload, geometry=True)
    assert [(g[0], g[3], g[4], g[5], g[6], g[7]) for g in got] == _expected_geo(
        len(spans), _tlens(spans), _nsps(spans)
    )


def test_geometry_through_encryption_and_filters():
    text = "z" * (80 * 5)
    spans = synth_spans_py("geo2", text)
    exp = _expected_geo(len(spans), _tlens(spans))
    for variant in ("encrypted", "filters:a85+flate", "objstream", "incremental"):
        got = extract_spans_doc(build_pdf("geo2", spans, variant), geometry=True)
        assert [(g[0], g[3], g[4], g[5], g[6], g[7]) for g in got] == exp, variant


def test_real_pdfs_have_finite_positions():
    for fname in ("loremipsum2.pdf", "vrml.pdf", "24c16.pdf"):
        got = extract_spans_doc(ref_bytes(fname), geometry=True)
        placed = [g for g in got if g[4] is not None and g[5] is not None]
        # every span that showed text must have a projected origin
        assert placed, fname
        for g in placed:
            assert -10000 < g[4] < 10000 and -10000 < g[5] < 10000, (fname, g)
