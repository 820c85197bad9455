"""Page, name and number trees whose nodes share their kids
(`/Kids [k+1 0 R k+1 0 R]` at every level): each walk reads a node
once, so a 2 KB file cannot expand to 2^levels entries. The page tree
rejects such a document; name and number trees read a shared subtree
once (PERMISSIVE, like the outline and structure walks). The page
tree's root counts as visited under its own object number."""

from __future__ import annotations

import pytest

from conftest import classic_pdf
from pdfspark.kernel import docmodel
from pdfspark.kernel.errors import EParseError
from pdfspark.kernel.extract import extract_spans, parse_document

LEVELS = 12  # 4,096 leaves if the shared kids were expanded

# objects 2-4 of a one-page document whose catalog is object 1
_ONE_PAGE = [
    b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
    b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R >>",
    b"<< /Length 12 >>\nstream\nBT (x) Tj ET\nendstream",
]


def _shared_kids(first: int, node_type: bytes, leaf: bytes) -> list:
    """Object bodies numbered from ``first``: LEVELS tree nodes, each
    listing the next node twice in /Kids, then ``leaf``."""
    return [
        b"<< %s/Kids [%d 0 R %d 0 R] >>" % (node_type, k + 1, k + 1)
        for k in range(first, first + LEVELS)
    ] + [leaf]


def test_page_tree_shared_kids_is_an_error(monkeypatch):
    leaf = b"<< /Type /Page /MediaBox [0 0 612 792] /Contents %d 0 R >>" % (
        3 + LEVELS
    )
    payload = classic_pdf(
        [b"<< /Type /Catalog /Pages 2 0 R >>"]
        + _shared_kids(2, b"/Type /Pages ", leaf)
        + [_ONE_PAGE[2]]
    )
    # the C walk (when built) and the Python walk
    for walk in {docmodel._CTOK_WALK, None}:
        monkeypatch.setattr(docmodel, "_CTOK_WALK", walk)
        status, err, spans = extract_spans(payload)
        assert (status, spans) == ("error", [])
        assert "page tree node visited twice" in err


def test_page_tree_root_has_its_own_number(monkeypatch):
    # the catalog's /Pages 2 0 R is itself a /Page: its obj_num is 2,
    # the number a structure element's /Pg names it by
    payload = classic_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Page /MediaBox [0 0 612 792] /Contents 3 0 R >>",
        _ONE_PAGE[2],
    ])
    for walk in {docmodel._CTOK_WALK, None}:
        monkeypatch.setattr(docmodel, "_CTOK_WALK", walk)
        assert [p.obj_num for p in parse_document(payload).pages()] == [2]


def test_page_tree_root_revisit_raises_first(monkeypatch):
    # the root /Pages 2 lists itself: its first kid is already a
    # re-visit, so the walk raises before resolving that kid
    payload = classic_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [2 0 R] /Count 1 >>",
    ])
    for walk in {docmodel._CTOK_WALK, None}:
        monkeypatch.setattr(docmodel, "_CTOK_WALK", walk)
        doc = parse_document(payload)
        resolve, resolved = doc.parser._resolve, []
        doc.parser._resolve = lambda ref: resolved.append(ref.num) or resolve(ref)
        with pytest.raises(EParseError, match="page tree node visited twice"):
            doc.pages()
        assert resolved == [2]  # the catalog's /Pages entry only


def test_name_tree_shared_kids_read_once():
    leaf = 5 + LEVELS
    payload = classic_pdf(
        [b"<< /Type /Catalog /Pages 2 0 R /Names << /EmbeddedFiles 5 0 R >> >>"]
        + _ONE_PAGE
        + _shared_kids(5, b"", b"<< /Names [(a.txt) %d 0 R] >>" % (leaf + 1))
        + [
            b"<< /Type /Filespec /F (a.txt) /EF << /F %d 0 R >> >>" % (leaf + 2),
            b"<< /Length 3 >>\nstream\nabc\nendstream",
        ]
    )
    rows = parse_document(payload).embedded_files()
    assert [(r["att_name"], r["size"]) for r in rows] == [("a.txt", 3)]


def test_number_tree_shared_kids_read_once():
    payload = classic_pdf(
        [b"<< /Type /Catalog /Pages 2 0 R /PageLabels 5 0 R >>"]
        + _ONE_PAGE
        + _shared_kids(5, b"", b"<< /Nums [0 << /S /R >>] >>")
    )
    doc = parse_document(payload)
    root = doc.catalog.get_dict("PageLabels", None, doc.parser._resolve)
    assert [k for k, _ in doc._walk_tree(root, "Nums")] == [0]
    assert doc.page_labels() == ["I"]
