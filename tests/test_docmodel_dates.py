"""Document-model + date tests (SURVEY.md §2.6 M1-M10, §2.7 C5/C6)."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pytest

from pdfspark.codec import build_pdf, synth_spans_py
from pdfspark.kernel import parse_document
from pdfspark.kernel.cos import Name
from pdfspark.kernel.docmodel import Rect, format_pdf_date, parse_pdf_date


# --- C5: PDF date parse ------------------------------------------------


@pytest.mark.parametrize(
    "src,expected",
    [
        (
            "D:20240108042833+02'00'",
            datetime(2024, 1, 8, 4, 28, 33, tzinfo=timezone(timedelta(hours=2))),
        ),
        (
            "D:19981223195200-08'00'",
            datetime(1998, 12, 23, 19, 52, 0, tzinfo=timezone(timedelta(hours=-8))),
        ),
        ("D:20030429", datetime(2003, 4, 29, tzinfo=timezone.utc)),
        ("D:2003", datetime(2003, 1, 1, tzinfo=timezone.utc)),
        ("20240108042833Z", datetime(2024, 1, 8, 4, 28, 33, tzinfo=timezone.utc)),
        # writer-quirk fallbacks (DateConverter.java:43-95 family)
        ("2024-01-08T04:28:33", datetime(2024, 1, 8, 4, 28, 33, tzinfo=timezone.utc)),
        ("04/15/2005 10:30:00", datetime(2005, 4, 15, 10, 30, 0, tzinfo=timezone.utc)),
        ("garbage", None),
        ("", None),
        # a zone of 24 h or more, or one that moves the UTC instant
        # before year 1, is no date
        ("D:20240108042833+99'00'", None),
        ("D:00010101000000+05'00'", None),
    ],
)
def test_parse_pdf_date(src, expected):
    assert parse_pdf_date(src) == expected


def test_format_parse_date_roundtrip():
    dt = datetime(2024, 1, 8, 4, 28, 33, tzinfo=timezone(timedelta(hours=2)))
    assert parse_pdf_date(format_pdf_date(dt)) == dt


# --- C10: rectangles ---------------------------------------------------


def test_rect_normalize_contains_move():
    r = Rect.normalized(100, 200, 10, 20)  # swapped corners normalize
    assert (r.llx, r.lly, r.urx, r.ury) == (10, 20, 100, 200)
    assert r.width == 90 and r.height == 180
    assert r.contains(50, 100) and not r.contains(5, 100)
    m = r.moved(1, -1)
    assert (m.llx, m.ury) == (11, 199)


# --- M3/M4: page count + DFS order -------------------------------------


def test_page_tree_dfs_and_lazy_count():
    # 23 spans → 5 pages → nested tree (fanout 4)
    text = "word " * 350
    spans = synth_spans_py("p1", text)
    doc = parse_document(build_pdf("p1", spans, "classic"))
    n_pages = doc.page_count()  # lazy /Count read — no page materialization
    pages = doc.pages()
    assert n_pages == len(pages) > 1
    # DFS order: content streams must replay spans in order
    assert [p.obj_num for p in pages] == sorted(
        [p.obj_num for p in pages]
    )  # builder assigns page objects in DFS order


def test_media_box_inheritance():
    spans = synth_spans_py("p2", "word " * 30)
    doc = parse_document(build_pdf("p2", spans, "classic"))
    for p in doc.pages():
        assert p.media_box == Rect(0.0, 0.0, 612.0, 792.0)
        assert p.resources is not None


# --- M7/M9/M10 ---------------------------------------------------------


def test_info_and_catalog_projection():
    spans = synth_spans_py("42", "hello world " * 20)
    payload = build_pdf(
        "42",
        spans,
        "classic",
        info_fields={"Title": "Custom Title", "Author": "A. Uthor"},
        catalog_extra={"Lang": __import__("pdfspark.kernel.cos", fromlist=["CString"]).CString.from_text("en-US"),
                       "PageMode": Name("UseOutlines")},
    )
    doc = parse_document(payload)
    info = doc.info_fields()
    assert info["title"] == "Custom Title"
    assert info["author"] == "A. Uthor"
    assert info["trapped"] == "False"
    cat = doc.catalog_fields()
    assert cat["lang"] == "en-US"
    assert cat["page_mode"] == "UseOutlines"
    assert cat["page_layout"] == "SinglePage"  # default (spec)
    assert not doc.parser.is_encrypted
    assert parse_pdf_date(info["creation_date"]) is not None


def test_xml_metadata_m8():
    from pdfspark.kernel import parse_document

    xmp = b'<?xpacket begin=""?><x:xmpmeta xmlns:x="adobe:ns:meta/"/>'
    payload = build_pdf("x1", synth_spans_py("x1", "word " * 20), "classic",
                        xml_metadata=xmp)
    doc = parse_document(payload)
    assert doc.xml_metadata() == xmp


def test_encrypted_policy_m10():
    from pdfspark.kernel import extract_meta, extract_spans

    payload = build_pdf("e1", synth_spans_py("e1", "word " * 20), "classic",
                        encrypted=True)
    st, err, meta = extract_meta(payload)
    assert st == "ok" and meta["encrypted"] is True
    st2, err2, spans = extract_spans(payload)
    assert st2 == "error" and "encrypted" in err2 and spans == []


@pytest.mark.parametrize(
    "src",
    [
        "Friday, January 05, 2024 10:30:00 PM",
        "Friday, January 05, 2024",
        "5/1/2024 10:30:00",
        "26 May 2000 11:25:00",
        "26 May 2000 11:25",
        "20240108 04:28:33",
        "2024-01-08T04:28:33Z",
    ],
)
def test_writer_quirk_date_fallbacks(src):
    # DateConverter.java:43-95 families — each must parse to a real dt
    dt = parse_pdf_date(src)
    assert dt is not None and dt.year in (2000, 2024)


def test_metadata_kernel_never_decodes_content():
    """The meta/spans kernel split is real (SURVEY §4.1 lazy-page
    analog): a document whose content streams are CORRUPT must still
    yield full metadata, while span extraction errors."""
    from pdfspark.kernel import extract_meta, extract_spans

    payload = build_pdf("lazy1", synth_spans_py("lazy1", "word " * 50), "filters:none")
    # corrupt every content stream body (they are unfiltered here):
    # flip bytes inside each BT..ET region
    out = bytearray(payload)
    i = out.find(b"BT ")
    while i >= 0:
        out[i : i + 2] = b"\xff\xfe"
        i = bytes(out).find(b"BT ", i + 2)
    corrupted = bytes(out)
    st_meta, err_m, meta = extract_meta(corrupted)
    assert st_meta == "ok" and meta["title"] == "doc lazy1" and meta["page_count"] >= 1
    st_spans, _, spans = extract_spans(corrupted)
    # spans either degrade (garbage ops skipped) or error — but they
    # can never equal the original; metadata was untouched either way
    assert spans != synth_spans_py("lazy1", "word " * 50)
