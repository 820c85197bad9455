"""Tagged-PDF logical reading order (ISO 32000-1 §14.6-14.8) —
EXTENSION, r8: the reference has no structure-tree reader; built from
the spec. The `tagged` generator variant paints each span as its own
marked-content section (/P or /Figure <</MCID j>> BDC … EMC) in a
SCRAMBLED two-column order (evens then odds) and records the logical
sequence only under /StructTreeRoot, rotating both §14.7.4.2 leaf
forms (integer MCID under an ancestor /Pg; explicit /MCR dict)."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

from pdfspark import codec as C
from pdfspark.codec import build_pdf, synth_spans_py
from pdfspark.kernel.cos import CDict, Name, Ref
from pdfspark.kernel.extract import extract_spans_doc, parse_document

TEXT = "lorem ipsum dolor sit amet " * 40  # 14 chunks → 2+ pages


def test_tagged_reading_order_roundtrip():
    """reading_order=True recovers the exact synthesis order."""
    for i in range(8):
        did = f"tag{i}"
        spans = synth_spans_py(did, TEXT + "y" * (37 * i))
        pdf = build_pdf(did, spans, "tagged")
        got = extract_spans_doc(pdf, reading_order=True)
        assert got == [(k, t, m, j) for j, (k, t, m, _o) in enumerate(spans)]


def test_tagged_content_order_is_scrambled():
    """The negative control: WITHOUT reading_order the same payload
    yields a different span sequence (raw paint order) — proving the
    identity above is carried by the structure walk, not by luck."""
    did = "tagneg"
    spans = synth_spans_py(did, TEXT)
    pdf = build_pdf(did, spans, "tagged")
    raw = [s[:3] for s in extract_spans_doc(pdf)]
    logical = [s[:3] for s in extract_spans_doc(pdf, reading_order=True)]
    assert sorted(map(repr, raw)) == sorted(map(repr, logical))  # same set
    assert raw != logical  # different order


def test_untagged_docs_unchanged_by_flag():
    did = "plain0"
    spans = synth_spans_py(did, TEXT)
    pdf = build_pdf(did, spans, "classic")
    assert extract_spans_doc(pdf, reading_order=True) == extract_spans_doc(pdf)


def test_struct_tree_cycle_is_guarded():
    """A /K self-cycle in the structure tree terminates (id-based
    visited set) and still emits the acyclic part."""
    from pdfspark import codec as C

    did = "tagcyc"
    spans = synth_spans_py(did, TEXT)
    g, cat, info = C.build_object_graph(did, spans, tagged=True)
    # find the StructTreeRoot and point its /Document element's /K
    # list back at the Document element itself (a cycle) plus the
    # original kids
    stroot_ref = g.objs[cat][Name("StructTreeRoot")]
    docel_ref = g.objs[stroot_ref.num][Name("K")]
    docel = g.objs[docel_ref.num]
    kids = docel[Name("K")]
    docel[Name("K")] = [docel_ref] + list(kids)
    payload = C._assemble_classic(g, cat, info, did)
    got = extract_spans_doc(payload, reading_order=True)
    assert got == [(k, t, m, j) for j, (k, t, m, _o) in enumerate(spans)]


def test_struct_order_none_when_untagged():
    did = "plain1"
    doc = parse_document(build_pdf(did, synth_spans_py(did, TEXT), "classic"))
    assert doc.struct_order() is None


def _one_page(did: str, body: bytes) -> bytes:
    """A tagged document whose one page paints ``body``: the structure
    tree references MCIDs 0 then 1 on that page; /F1 is its font."""
    spans = synth_spans_py(did, "lorem ipsum dolor sit amet " * 4)
    g, cat, info = C.build_object_graph(did, spans, tagged=True)
    assert len(g.content_nums) == 1
    g.objs[g.content_nums[0]] = C._encode_content(body, [])
    return C._assemble_classic(g, cat, info, did)


def _texts(payload: bytes) -> list:
    return [s[1] for s in extract_spans_doc(payload, reading_order=True)]


def test_text_state_carries_across_sections():
    """Section MCID 1 shows text with the font section MCID 0 set
    (§9.3.1: text state belongs to the page, not to marked content),
    so its span has the /F1 size and width."""
    pdf = _one_page(
        "tagstate",
        b"/P <</MCID 0>> BDC BT /F1 12 Tf 10 700 Td (shared) Tj ET EMC\n"
        b"/P <</MCID 1>> BDC BT 10 680 Td (shared) Tj ET EMC",
    )
    got = extract_spans_doc(pdf, reading_order=True, geometry=True)
    assert [s[1] for s in got] == ["shared", "shared"]
    assert got[1][6:] == got[0][6:] == (36.0, 12.0)


def test_marked_content_inside_text_object():
    """Marked content opened inside BT … ET: the one text span is
    emitted at ET, where no section is open — it is untagged."""
    pdf = _one_page(
        "tagbt",
        b"BT /F1 12 Tf /P <</MCID 1>> BDC (a) Tj EMC "
        b"/P <</MCID 0>> BDC (b) Tj EMC ET",
    )
    want = [("text", "ab", None, 0)]
    assert extract_spans_doc(pdf, reading_order=True) == want
    assert extract_spans_doc(pdf) == want


_SECTION_RULES = {
    # an 'EMC' inside a string literal is text, never an operator
    "emc_in_string": (
        b"/P <</MCID 1>> BDC BT /F1 12 Tf (x EMC y) Tj ET EMC "
        b"/P <</MCID 0>> BDC BT /F1 12 Tf (z) Tj ET EMC",
        ["z", "x EMC y"],
    ),
    # nested marked content stays inside its outer section
    "nested": (
        b"/P <</MCID 1>> BDC BT /F1 12 Tf (a) Tj ET "
        b"/Span BMC BT (n) Tj ET EMC BT (b) Tj ET EMC "
        b"/P <</MCID 0>> BDC BT (c) Tj ET EMC",
        ["c", "a", "n", "b"],
    ),
    # a stray top-level EMC closes nothing; untagged spans come last
    "stray_emc": (
        b"EMC /P <</MCID 1>> BDC BT /F1 12 Tf (a) Tj ET EMC EMC "
        b"BT (u) Tj ET /P <</MCID 0>> BDC BT (b) Tj ET EMC",
        ["b", "a", "u"],
    ),
    # an unterminated section runs to the end of the page
    "unterminated": (
        b"BT /F1 12 Tf (u) Tj ET /P <</MCID 0>> BDC BT (b) Tj ET EMC "
        b"/P <</MCID 1>> BDC BT (a) Tj ET BT (t) Tj ET",
        ["b", "a", "t", "u"],
    ),
}


@pytest.mark.parametrize("rule", sorted(_SECTION_RULES))
def test_marked_section_rules(rule):
    body, want = _SECTION_RULES[rule]
    assert _texts(_one_page(f"tag_{rule}", body)) == want


def _parity_payloads() -> list:
    docs = []
    for i in range(4):
        did = f"tagpar{i}"
        text = "lorem ipsum " * 90 * (i + 1)
        docs.append(build_pdf(did, synth_spans_py(did, text), "tagged"))
    for rule, (body, _want) in sorted(_SECTION_RULES.items()):
        docs.append(_one_page(f"tag_{rule}", body))
    return docs


def test_reading_order_same_without_c_extension():
    """The Python lexer and the C lexer feed the interpreter the same
    marked-content edges: identical reading-order output (geometry
    included) with PDFSPARK_NO_CTOK=1."""
    code = (
        "from pdfspark.kernel.extract import extract_spans_doc\n"
        "from tests.test_reading_order import _parity_payloads\n"
        "for pdf in _parity_payloads():\n"
        "    print(extract_spans_doc(pdf, reading_order=True, geometry=True))\n"
    )
    outs = [
        subprocess.run(
            [sys.executable, "-c", code],
            cwd=Path(__file__).resolve().parents[1],
            env={**os.environ, "PDFSPARK_NO_CTOK": flag},
            capture_output=True, text=True, check=True,
        ).stdout
        for flag in ("0", "1")
    ]
    assert outs[0].count("\n") == len(_parity_payloads()) and outs[0] == outs[1]


def test_unreferenced_and_dangling_mcids_are_permissive():
    """Marked content the tree never references still comes out
    (after the referenced sequence); tree leaves pointing at MCIDs
    that don't exist in content are skipped."""
    did = "tagdangle"
    spans = synth_spans_py(did, TEXT)
    g, cat, info = C.build_object_graph(did, spans, tagged=True)
    stroot_ref = g.objs[cat][Name("StructTreeRoot")]
    docel_ref = g.objs[stroot_ref.num][Name("K")]
    sects = g.objs[docel_ref.num][Name("K")]
    first_sect = g.objs[sects[0].num]
    kids = list(first_sect[Name("K")])
    # drop the first leaf (its MCID becomes unreferenced content) and
    # append a dangling MCR pointing at MCID 999 (no such content)
    dangle = CDict()
    dangle[Name("Type")] = Name("MCR")
    dangle[Name("Pg")] = first_sect[Name("Pg")]  # the Sect's page
    dangle[Name("MCID")] = 999
    first_sect[Name("K")] = kids[1:] + [Ref(g.add(dangle), 0)]
    payload = C._assemble_classic(g, cat, info, did)
    got = extract_spans_doc(payload, reading_order=True)
    # same multiset of spans, every span emitted exactly once
    exp_set = sorted(repr((k, t, m)) for (k, t, m, _o) in spans)
    assert sorted(repr(s[:3]) for s in got) == exp_set
