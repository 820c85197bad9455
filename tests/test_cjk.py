"""Predefined CID-CMap decoding (kernel/textops Table 118 registry):
Type0 fonts with a predefined CJK /Encoding and NO /ToUnicode must
still extract text — the CMap family's code bytes ARE a well-known
character encoding."""

from __future__ import annotations

import pytest

from pdfspark.codec import build_pdf, synth_spans_py
from pdfspark.kernel import extract_spans
from pdfspark.kernel.cos import CDict, Name
from pdfspark.kernel.textops import Font

CJK_TEXT = ("数据处理引擎对照测试 中文抽取 spark 分布式 " * 12).strip()


def _expected(spans):
    return [(k, t, m, i) for i, (k, t, m, _o) in enumerate(spans)]


def test_cjk_variant_roundtrips_chinese():
    spans = synth_spans_py("cjk1", CJK_TEXT)
    payload = build_pdf("cjk1", spans, "cjk")
    assert b"GBK-EUC-H" in payload or b"/F3" in payload  # the CMap path is live
    st, err, got = extract_spans(payload)
    assert st == "ok", err
    assert got == _expected(spans)


def test_cjk_variant_roundtrips_ascii():
    # ASCII ⊂ GBK: the driver tables are ASCII, and still route /F3
    spans = synth_spans_py("cjk2", "plain ascii words " * 30)
    st, err, got = extract_spans(build_pdf("cjk2", spans, "cjk"))
    assert st == "ok", err
    assert got == _expected(spans)


def test_cjk_with_encryption_stack():
    spans = synth_spans_py("cjk3", CJK_TEXT)
    payload = build_pdf("cjk3", spans, "cjk", encrypted=False)
    st, _err, got = extract_spans(payload)
    assert st == "ok" and got == _expected(spans)


@pytest.mark.parametrize(
    "cmap,codec,sample",
    [
        ("GBK-EUC-H", "gbk", "汉字抽取"),
        ("GB-EUC-H", "gb2312", "中文"),
        ("ETen-B5-H", "big5", "中華民國"),
        ("90ms-RKSJ-H", "cp932", "日本語テキスト"),
        ("KSCms-UHC-H", "cp949", "한국어 텍스트"),
        ("UniGB-UCS2-H", "utf-16-be", "任意の unicode ✓"),
        ("UniKS-UTF16-V", "utf-16-be", "세로쓰기"),
    ],
)
def test_predefined_cmap_registry(cmap, codec, sample):
    fd = CDict()
    fd[Name("Subtype")] = Name("Type0")
    fd[Name("Encoding")] = Name(cmap)
    f = Font(fd, None)
    assert f.codec == codec
    assert f.show_info(sample.encode(codec))[0] == sample


def test_unknown_predefined_cmap_falls_back():
    fd = CDict()
    fd[Name("Subtype")] = Name("Type0")
    fd[Name("Encoding")] = Name("H")  # ISO-2022 family: unsupported
    f = Font(fd, None)
    assert f.codec is None  # identity UTF-16BE fallback, not a crash
    assert isinstance(f.show_info(b"\x00A\x00b")[0], str)


# --- embedded CMap streams (r3: ISO 32000-1 §9.7.5.3) ------------------


@pytest.mark.parametrize(
    "text",
    [
        CJK_TEXT,  # multi-byte Chinese through cidchar/bfchar/bfrange
        "plain ascii rides the 1-byte code space " * 4,
        "mixed 日本語テキスト and हिन्दी plus astral \U0001F600\U0001F680 " * 3,
        "naïve café über straße — latin-1 range non-ASCII " * 4,
    ],
    ids=["chinese", "ascii", "mixed-astral", "latin1"],
)
def test_embedded_cmap_roundtrips(text):
    """Type0 + fully custom embedded /Encoding CMap, NO ToUnicode: the
    extractor must parse the in-file CMap (codespacerange + cidrange +
    cidchar + bfchar + bfrange all present by construction) and decode
    losslessly."""
    spans = synth_spans_py("embX", text)
    payload = build_pdf("embX", spans, "cjk:embedded")
    assert b"begincodespacerange" not in payload  # CMap is flate-compressed
    st, err, got = extract_spans(payload)
    assert st == "ok", err
    assert got == _expected(spans)


def test_embedded_cmap_sections_parsed_directly():
    """Unit pin: all five section kinds of the generator's CMap land in
    the parsed EmbeddedCMap, and codes_w() honors mixed 1/2-byte spaces."""
    from pdfspark.codec import _build_embedded_cmap
    from pdfspark.kernel.textops import parse_embedded_cmap

    chars = ["中", "文", "嵌"]  # k%3 → cidchar, bfchar, bfrange
    data, code_of = _build_embedded_cmap(chars)
    cm = parse_embedded_cmap(data)
    assert sorted(cm.ranges) == [(1, b"\x00", b"\x7f"), (2, b"\x81\x40", b"\xfe\xfe")]
    assert cm.cid_ranges == [(0x00, 0x7F, 0)]  # ASCII: CID == code
    c0 = int.from_bytes(code_of["中"], "big")
    c1 = int.from_bytes(code_of["文"], "big")
    c2 = int.from_bytes(code_of["嵌"], "big")
    assert cm.cid_map[c0] == ord("中")  # cidchar
    assert cm.bf_map.get(c1) == "文"  # bfchar
    assert cm.bf_map.get(c2) == "嵌"  # bfrange (lo == hi)
    # mixed-width tokenization: 'A' (1 byte) then 中 (2 bytes)
    raw = b"A" + code_of["中"]
    assert [c for c, _ in cm.codes_w(raw)] == [ord("A"), c0]


def test_embedded_cmap_tounicode_precedence():
    """A /ToUnicode on the font outranks the embedded CMap's own
    mappings (ISO 32000-1 §9.10.2 lookup order)."""
    from pdfspark.codec import _build_embedded_cmap
    from pdfspark.kernel.textops import Font, parse_embedded_cmap

    data, code_of = _build_embedded_cmap(["中"])

    def font(tounicode):
        # show_info memoizes per code, so each lookup order gets a
        # fresh Font (fonts are never mutated after __init__)
        f = Font(CDict(), None)
        f.two_byte = True
        f.cmap = parse_embedded_cmap(data)
        f.tounicode = tounicode
        return f

    code = int.from_bytes(code_of["中"], "big")
    assert font({code: "Z"}).show_info(code_of["中"])[0] == "Z"
    assert font(None).show_info(code_of["中"])[0] == "中"


# --- Type0 /W per-CID widths (r3) --------------------------------------


def test_w_array_parsing_both_forms():
    """ISO 32000-1 §9.7.4.3: `c [w...]` list runs and `c_lo c_hi w`
    range runs, mixed in one array; list entries outrank ranges."""
    from pdfspark.kernel.cos import Ref

    f = Font(CDict(), None)
    f._parse_w_array([100, [600, 700, 800], 200, 300, 250, 0, 127, 500])
    assert f.cid_widths == {100: 600, 101: 700, 102: 800}
    assert f.cid_wranges == [(200, 300, 250), (0, 127, 500)]
    f.default_width = 1000
    assert f._cid_width(101) == 700  # list form
    assert f._cid_width(250) == 250  # range form
    assert f._cid_width(64) == 500  # second range
    assert f._cid_width(5000) == 1000  # /DW fallback
    assert f._cid_width(None) == 1000
    # malformed runs skipped, valid tail still lands
    g = Font(CDict(), None)
    g._parse_w_array([Ref(1, 0), 7, [42]])
    assert g.cid_widths == {7: 42}


def test_embedded_cmap_w_advance_multibyte():
    """Advance through an embedded CMap with /W: ASCII (1-byte, CID ==
    code) takes the /W range; CJK cidchar codes (CID = ord) take /DW;
    word spacing counts ONLY the single-byte code 32."""
    from pdfspark.codec import _build_embedded_cmap
    from pdfspark.kernel.textops import parse_embedded_cmap

    data, code_of = _build_embedded_cmap(["中"])  # k=0 → cidchar, CID=ord
    f = Font(CDict(), None)
    f.two_byte = True
    f.cmap = parse_embedded_cmap(data)
    f.default_width = 1000
    f._parse_w_array([0, 127, 500])
    raw = b"A B" + code_of["中"]  # A, space, B (1-byte) + 中 (2-byte)
    assert f.show_info(raw)[1] == 500 * 3 + 1000
    # byte-width discrimination for word spacing (§9.3.3)
    pairs = f.cmap.codes_w(b" " + code_of["中"])
    assert pairs == [(32, 1), (int.from_bytes(code_of["中"], "big"), 2)]


def test_identity_h_w_advance():
    """Identity-H (no CMap): CID == 2-byte code, /W applies directly."""
    f = Font(CDict(), None)
    f.two_byte = True
    f.default_width = 1000
    f._parse_w_array([65, [250], 0x4E00, 0x9FFF, 800])
    raw = (65).to_bytes(2, "big") + "中".encode("utf-16-be")
    assert f.show_info(raw)[1] == 250 + 800


def test_generator_f3_w_matches_simple_font():
    """End-to-end: the cjk:embedded geometry equals the classic-layout
    geometry for ASCII text — the /W [0 127 500] + /DW font reproduces
    the simple font's closed-form widths (the pdf_span_geometry_cid
    oracle contract)."""
    from pdfspark.kernel import extract_spans_doc

    text = ("word gap " * 60)[: 80 * 4]
    spans = synth_spans_py("wgeo", text)
    a = extract_spans_doc(build_pdf("wgeo", spans, "classic"), geometry=True)
    b = extract_spans_doc(build_pdf("wgeo", spans, "cjk:embedded"), geometry=True)
    assert a == b


def test_usecmap_base_fallback():
    """`/GBK-EUC-H usecmap` in an embedded CMap: codes the embedded
    sections leave unmapped decode through the predefined base's byte
    encoding; locally-mapped codes keep their own mapping."""
    from pdfspark.kernel.textops import parse_embedded_cmap

    gbk = "中".encode("gbk")
    cmap = (
        b"%!PS-Adobe-3.0 Resource-CMap\n"
        b"/GBK-EUC-H usecmap\n"
        b"2 begincodespacerange\n<00> <7f>\n<8140> <fefe>\nendcodespacerange\n"
        b"1 begincidrange\n<00> <7f> 0\nendcidrange\n"
        b"1 beginbfchar\n<8141> <0058>\nendbfchar\n"  # local: code→'X'
    )
    cm = parse_embedded_cmap(cmap)
    assert cm.base_codec == "gbk"
    f = Font(CDict(), None)
    f.two_byte = True
    f.cmap = cm
    assert f.show_info(b"A" + gbk)[0] == "A中"  # base codec covers the gap
    assert f.show_info(b"\x81\x41")[0] == "X"  # local mapping wins
    # unknown base name → no codec, unmapped stays U+FFFD
    cm2 = parse_embedded_cmap(cmap.replace(b"GBK-EUC-H", b"NoSuch-H"))
    assert cm2.base_codec is None


def test_usecmap_embedded_chain():
    """Embedded→embedded /UseCMap chain (r4): the child CMap has NO
    codespacerange of its own — tokenization, the 1-byte cid section
    and the k%3==0 cidchars all resolve through the imported base;
    the child's bf sections override where present."""
    from pdfspark.codec import (
        _build_chained_embedded_cmap,
        _show_bytes_embedded,
        build_pdf,
        synth_spans_py,
    )
    from pdfspark.kernel.cos import CStream
    from pdfspark.kernel.textops import Font

    chars = ["中", "文", "字"]  # k%3 = 0,1,2 → cidchar, bfchar, bfrange
    base_b, child_b, code_of = _build_chained_embedded_cmap(chars)
    assert b"codespacerange" in base_b and b"codespacerange" not in child_b
    base_stream = CStream(CDict(), base_b)
    child_d = CDict()
    child_d[Name("UseCMap")] = base_stream  # direct value: deref no-op
    child_stream = CStream(child_d, child_b)
    cm = Font._load_embedded_cmap_keyed(child_stream, None, 0)[0]
    assert cm.base is not None
    assert len(cm.ranges) == 2  # inherited code spaces
    # 1-byte space + cidrange come from the BASE
    assert cm.cid(0x41) == 0x41
    # k=0 cidchar lives in the BASE; k=1/2 bf sections in the CHILD
    f = Font(CDict(), None)
    f.two_byte = True
    f.cmap = cm
    raw = b"A" + code_of["中"] + code_of["文"] + code_of["字"]
    assert f.show_info(raw)[0] == "A中文字"
    # and the whole-document path: chained doc_id ('5') roundtrips
    text = "mixed ascii 与中文内容 plus spaces"
    spans = synth_spans_py("5", text)
    payload = build_pdf("5", spans, "cjk:embedded")
    assert b"pdfspark-Chained-H" in _unflate_all(payload)
    from pdfspark.kernel.extract import extract_spans

    status, err, got = extract_spans(payload)
    assert status == "ok", err
    assert got == spans


def _unflate_all(payload: bytes) -> bytes:
    """Concatenate every FlateDecode-able stream body (test helper)."""
    import re
    import zlib

    out = []
    for m in re.finditer(rb"stream\r?\n", payload):
        start = m.end()
        end = payload.find(b"endstream", start)
        try:
            out.append(zlib.decompress(payload[start:end]))
        except Exception:
            pass
    return b"\n".join(out)


def test_type3_font_roundtrip_and_matrix_widths():
    """Type3 glyph-procedure fonts (§9.6.5): text decodes through the
    /Differences → AGL table losslessly, and glyph-space /Widths ×
    FontMatrix reproduce the simple font's advance BIT-exactly (the
    generator's 32 × 1/64 = 500/1000-em contract) — whole geometry
    rows equal the classic variant's. A Type3 font WITHOUT
    /Widths+/FontMatrix reports no metrics (w null)."""
    from pdfspark.codec import build_pdf, synth_spans_py
    from pdfspark.kernel.cos import CDict, Name
    from pdfspark.kernel.extract import extract_spans, extract_spans_doc
    from pdfspark.kernel.textops import Font as _Font

    text = "The quick brown fox, jumps over 12 lazy dogs! " * 4
    spans = synth_spans_py("t3pin", text)
    payload = build_pdf("t3pin", spans, "type3")
    assert b"/Type3" in payload
    st, err, got = extract_spans(payload)
    assert st == "ok", err
    assert got == spans
    geo = extract_spans_doc(payload, geometry=True)
    geo_classic = extract_spans_doc(
        build_pdf("t3pin", spans, "classic"), geometry=True
    )
    assert geo == geo_classic  # incl. bit-exact widths
    bare = CDict()
    bare[Name("Subtype")] = Name("Type3")
    assert _Font(bare, None).show_info(b"ab")[1] is None


def test_japan1_collection_decode():
    """r6: CIDs of a registered character collection decode through
    the collection table (Adobe-Japan1 CIDs 1-95 = U+0020-U+007E),
    NOT via the chr(cid) Identity fallback — and an unregistered
    ordering still falls back to CID-as-Unicode."""
    from pdfspark.kernel.cidcollections import collection_table
    from pdfspark.kernel.textops import parse_embedded_cmap

    tab = collection_table("Japan1")
    assert tab[1] == " " and tab[95] == "~" and 96 not in tab
    assert collection_table("NoSuchOrdering") is None

    cmap = (
        b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Japan1)"
        b" /Supplement 7 >> def\n"
        b"1 begincodespacerange\n<2020> <207e>\nendcodespacerange\n"
        b"1 begincidrange\n<2020> <207e> 1\nendcidrange\n"
    )
    cm = parse_embedded_cmap(cmap)
    assert cm.ordering == "Japan1" and cm.coll is not None
    # code 0x2041 → CID 0x22 (34) → 'A' per the collection
    assert cm.cid(0x2041) == 0x22
    assert cm.coll[0x22] == "A"


def test_japan1_roundtrip_via_font():
    """End-to-end: a cjk:japan1 payload extracts the original ASCII —
    which is only possible through the collection table (the CIDs are
    1-95, control-range as raw code points)."""
    from pdfspark.codec import build_pdf, synth_spans_py
    from pdfspark.kernel.extract import extract_spans

    spans = synth_spans_py("jp1doc", "The Quick (Brown) Fox! ~0123~")
    st, err, got = extract_spans(build_pdf("jp1doc", spans, "cjk:japan1"))
    assert st == "ok", err
    assert [tuple(s) for s in got] == spans


def test_hanzi_roundtrip_real_cjk():
    """End-to-end real-CJK contract: extracted text is actual hanzi,
    decoded via the GBK CMap byte encoding with no ToUnicode."""
    from pdfspark.codec import _HANZI_TRANS, build_pdf, synth_spans_py
    from pdfspark.kernel.extract import extract_spans

    text = "sort merge join scan"
    spans = synth_spans_py("hzdoc", text)
    st, err, got = extract_spans(build_pdf("hzdoc", spans, "cjk:hanzi"))
    assert st == "ok", err
    exp = [(k, t.translate(_HANZI_TRANS) if t else t, m, o)
           for (k, t, m, o) in spans]
    assert [tuple(s) for s in got] == exp
    joined = "".join(t for (k, t, m, o) in got if t)
    assert any("一" <= ch <= "丙" for ch in joined)


def test_collection_register_hook():
    """register_collection extends an ordering's table (the deployment
    hook for full Adobe cid2code data)."""
    from pdfspark.kernel import cidcollections as cc

    cc.register_collection("TestOrd1", {7: "X"})
    try:
        assert cc.collection_table("TestOrd1") == {7: "X"}
        cc.register_collection("TestOrd1", {8: "Y"})
        assert cc.collection_table("TestOrd1")[8] == "Y"
    finally:
        cc._COLLECTIONS.pop("TestOrd1", None)


# ---------------------------------------------------------------------------
# r7: GB1 / CNS1 / Korea1 collection breadth + the cid2code loader
# ---------------------------------------------------------------------------


def test_roman_openings_ship_for_all_four_collections():
    """Each classic Adobe collection opens with the proportional
    Roman set, CIDs 1-95 = U+0020-U+007E (TN #5078/5079/5080/5093) —
    with Korea1's 0x5C column deliberately absent (KS X 1003 won-sign
    ambiguity: no unverifiable pin, fallback applies)."""
    from pdfspark.kernel.cidcollections import collection_table

    for ordering in ("Japan1", "GB1", "CNS1"):
        tab = collection_table(ordering)
        assert tab[1] == " " and tab[34] == "A" and tab[95] == "~"
    kr = collection_table("Korea1")
    assert kr[1] == " " and kr[95] == "~"
    assert 61 not in kr  # the 0x5C position — documented hole


def test_cid2code_loader_parses_adobe_format():
    """load_cid2code handles the public cid2code.txt conventions:
    # comments, header row, * holes, comma candidate lists, trailing
    variant tags, and explicit column selection."""
    from pdfspark.kernel.cidcollections import load_cid2code

    text = (
        "# comment line\n"
        "CID\tJIS\tUniJIS-UCS2\n"
        "10\t2121\t4E00\n"
        "11\t2122\t*\n"
        "12\t2123\t4E01v\n"
        "13\t2124\t4E02,4E03\n"
        "bogus\tx\ty\n"
        "14\t2125\tZZZZ\n"
    )
    tab = load_cid2code(text)
    assert tab == {10: "一", 12: "丁", 13: "丂"}
    # explicit column pick
    tab2 = load_cid2code(text, column="JIS")
    assert tab2[10] == "℡"


def test_demo_supplements_out_of_band_and_isolated():
    """The synthetic-corpus demo supplements sit at CIDs >= 60000
    (above every published Adobe supplement) and do not cross-talk
    between orderings."""
    from pdfspark.kernel.cidcollections import (
        DEMO_SUPPLEMENTS, collection_table,
    )

    for ordering, base, cp0 in DEMO_SUPPLEMENTS:
        tab = collection_table(ordering)
        assert base >= 60000
        for i in (0, 25):
            assert tab[base + i] == chr(cp0 + i)
    # no cross-talk: GB1's block is absent from CNS1 and vice versa
    assert 61000 not in collection_table("GB1")
    assert 60000 not in collection_table("CNS1")


def test_collection_roundtrips_real_cjk():
    """End-to-end: each r7 ordering extracts real CJK/hangul through
    its collection table (Roman CIDs + demo-supplement CIDs), with
    un-encodable characters (Korea1 backslash) falling back to the
    simple font — output text identical either way."""
    from pdfspark.codec import build_pdf, synth_spans_py
    from pdfspark.kernel.extract import extract_spans

    text = "mixed Case back\\slash digits 007 tail"
    for variant, cp0 in (
        ("cjk:gb1", 0x4E00), ("cjk:cns1", 0x9E00), ("cjk:korea1", 0xAC00)
    ):
        spans = synth_spans_py("cc-" + variant, text)
        st, err, got = extract_spans(
            build_pdf("cc-" + variant, spans, variant)
        )
        assert st == "ok", (variant, err)
        tr = str.maketrans(
            "abcdefghijklmnopqrstuvwxyz",
            "".join(chr(cp0 + i) for i in range(26)),
        )
        expect = [
            (k, t.translate(tr) if t else t, m, o) for (k, t, m, o) in spans
        ]
        assert [tuple(s) for s in got] == expect
        # the CJK really came through: at least one supplement glyph
        assert any(
            t and any(cp0 <= ord(ch) < cp0 + 26 for ch in t)
            for (_k, t, _m, _o) in got
        )


# --- malformed /ToUnicode bfrange -----------------------------------------


def _mapped(tu, n: int) -> dict:
    """The codes below ``n`` that ``tu`` maps, with their text."""
    return {c: tu.get(c) for c in range(n) if tu.get(c) is not None}


def test_bfrange_destination_overflow_skipped():
    """A bfrange destination that outgrows its byte width maps only the
    codes that fit; the rest are skipped like other malformed entries."""
    from pdfspark.kernel.textops import parse_tounicode_cmap

    assert _mapped(parse_tounicode_cmap(
        b"1 beginbfrange <00> <FF> <FFFF> endbfrange"
    ), 256) == {0: "\uffff"}
    assert _mapped(parse_tounicode_cmap(
        b"1 beginbfrange <10> <15> <FFFD> endbfrange"
    ), 256) == {0x10: "\ufffd", 0x11: "\ufffe", 0x12: "\uffff"}


def test_bfrange_destination_overflow_document():
    """The same CMap as a font's /ToUnicode: the document extracts,
    its unmapped codes decode to U+FFFD."""
    from conftest import classic_pdf

    cmap = b"1 beginbfrange <00> <FF> <FFFF> endbfrange"
    content = b"BT /F1 12 Tf (AB) Tj ET"
    payload = classic_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
        b" /Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
        b" /ToUnicode 6 0 R >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(cmap), cmap),
    ])
    st, err, got = extract_spans(payload)
    assert st == "ok", err
    assert [s[1] for s in got] == ["\ufffd\ufffd"]


def test_bfrange_row_held_per_row_not_per_code():
    """A 4-byte bfrange row of 2^20 codes is one row, not 2^20
    entries, and still decodes at lo, at hi and past the width limit."""
    from pdfspark.kernel.textops import parse_tounicode_cmap

    tu = parse_tounicode_cmap(
        b"2 beginbfrange <00000000> <000FFFFF> <00000041>"
        b" <00100000> <001FFFFF> <FFF0> endbfrange"
    )
    assert len(tu.pieces) == 2
    assert tu.get(0) == "\x00A"
    assert tu.get(0xFFFFF) == "\x10@"  # 0x41 + 0xFFFFF = <00100040>
    # the 2-byte destination <FFF0> fits 16 codes of the second row
    assert tu.get(0x100000) == "\ufff0"
    assert tu.get(0x10000F) == "\uffff"
    assert tu.get(0x100010) is None
    assert tu.get(0x1FFFFF, "?") == "?"


def _eager_tounicode(sections: list) -> dict:
    """Reference expansion: every code written out in file order."""
    out = {}
    for kind, rows in sections:
        for row in rows:
            if kind == "char":
                code, dst = row
                out[code] = dst.decode("utf-16-be", "surrogatepass")
            elif isinstance(row[2], list):
                lo, _hi, dsts = row
                for off, dst in enumerate(dsts):
                    out[lo + off] = dst.decode("utf-16-be", "surrogatepass")
            else:
                lo, hi, dst = row
                base, width = int.from_bytes(dst, "big"), len(dst)
                last = min(hi, lo + (1 << 8 * width) - 1 - base)
                for c in range(lo, last + 1):
                    out[c] = (base + c - lo).to_bytes(width, "big").decode(
                        "utf-16-be", "surrogatepass"
                    )
    return out


def test_tounicode_lookup_matches_eager_expansion():
    """Seeded CMaps of interleaved bfchar and bfrange sections, with
    overlapping rows, array destinations and destinations that
    outgrow their width: every code looks up what writing each code
    out in file order would leave."""
    import random

    from pdfspark.kernel.textops import parse_tounicode_cmap

    rng = random.Random(0x70C0DE)

    def dst():
        # some destinations sit near the top of their width, so a
        # range row outgrows it
        w = rng.choice((2, 2, 4))
        top = 1 << 16
        v = rng.choice((rng.randrange(top), top - 1 - rng.randrange(8)))
        return v.to_bytes(w, "big")

    def hexs(b: bytes) -> bytes:
        return b"<%s>" % b.hex().encode()

    for _ in range(200):
        sections, text = [], b""
        for _ in range(rng.randrange(1, 5)):
            if rng.random() < 0.4:
                kind = "char"
                rows = [(rng.randrange(256), dst()) for _ in range(rng.randrange(1, 6))]
                body = [b"<%02X> %s" % (c, hexs(d)) for c, d in rows]
            else:
                kind, rows = "range", []
                for _ in range(rng.randrange(1, 5)):
                    lo = rng.randrange(256)
                    hi = min(255, lo + rng.randrange(40))
                    if rng.random() < 0.2:
                        rows.append((lo, hi, [dst() for _ in range(rng.randrange(4))]))
                    else:
                        rows.append((lo, hi, dst()))
                body = [
                    b"<%02X> <%02X> %s" % (lo, hi, b"[%s]" % b" ".join(map(hexs, d))
                                           if isinstance(d, list) else hexs(d))
                    for lo, hi, d in rows
                ]
            sections.append((kind, rows))
            text += b"%d beginbf%s %s endbf%s\n" % (
                len(rows), kind.encode(), b" ".join(body), kind.encode()
            )
        got = _mapped(parse_tounicode_cmap(text), 512)
        assert got == _eager_tounicode(sections), text
