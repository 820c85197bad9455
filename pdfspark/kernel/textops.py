"""Content-stream text-operator interpreter (SURVEY.md scope note +
§7 Milestone 3).

The reference implements NO content-stream interpreter (verified in
SURVEY.md — no Tj/TJ/BT-ET handling anywhere; page /Contents decoded
to bytes but never interpreted, PDFParser.java call sites :174,409).
This layer is therefore built from the public PDF 1.7 spec
(ISO 32000-1 §9.4 text objects, §9.10 text extraction, §9.6-9.7 fonts)
with behavior pinned by the generator↔extractor round-trip property
tests (the reference's checkProduceParsePair pattern,
TestCOSString.java:148-181, lifted to whole documents).

Span contract (BASELINE.json input_hint):
- one BT..ET text object  → one span {kind='text', text=concat of all
  show ops inside, decoded per the active font}
- one image-XObject `Do`  → one span {kind='media', media_ref=the
  XObject's /Name value} — pass-through codec semantics
  (StreamDecoder.java:61-64: DCT/JPX/CCITT/JBIG2 are opaque)
- offset = emission ordinal in page-DFS + stream order
- form XObjects recurse.
"""

from __future__ import annotations

from typing import Optional

import re as _re
from array import array as _array

from .cos import (
    CDict,
    COS_NULL,
    CString,
    CStream,
    Name,
    Resolver,
    _CTOK,
    _I64,
    parse_object,
    wide_number,
)
from .encodings import WINANSI_BYTE_TO_CHAR
from .errors import EParseError
from .filters import decode_stream
from .raw import Raw, is_delim, is_ws

# ---------------------------------------------------------------------------
# Fonts
# ---------------------------------------------------------------------------

# Minimal Adobe Glyph List subset for /Differences resolution
_AGL = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#", "dollar": "$",
    "percent": "%", "ampersand": "&", "quotesingle": "'", "parenleft": "(",
    "parenright": ")", "asterisk": "*", "plus": "+", "comma": ",", "hyphen": "-",
    "period": ".", "slash": "/", "zero": "0", "one": "1", "two": "2", "three": "3",
    "four": "4", "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=", "greater": ">",
    "question": "?", "at": "@", "bracketleft": "[", "backslash": "\\",
    "bracketright": "]", "asciicircum": "^", "underscore": "_", "grave": "`",
    "braceleft": "{", "bar": "|", "braceright": "}", "asciitilde": "~",
    "bullet": "•", "emdash": "—", "endash": "–",
    "quotedblleft": "“", "quotedblright": "”", "quoteleft": "‘",
    "quoteright": "’", "fi": "ﬁ", "fl": "ﬂ", "Euro": "€",
    "eacute": "é", "egrave": "è", "agrave": "à", "ccedilla": "ç",
    "adieresis": "ä", "odieresis": "ö", "udieresis": "ü",
}
for _c in "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz":
    _AGL[_c] = _c


def parse_tounicode_cmap(data: bytes) -> dict[int, str]:
    """Parse a /ToUnicode CMap: beginbfchar/endbfchar and
    beginbfrange/endbfrange sections (ISO 32000-1 §9.10.3)."""
    out: dict[int, str] = {}
    r = Raw(data)
    d = data
    n = len(d)

    def read_tokens_until(end_kw: bytes) -> list:
        toks = []
        while r.pos < n:
            r.skip_ws_and_comments()
            if d.startswith(end_kw, r.pos):
                r.pos += len(end_kw)
                return toks
            toks.append(parse_object(r, None))
        raise EParseError(f"CMap: missing {end_kw.decode()}")

    while r.pos < n:
        i1 = d.find(b"beginbfchar", r.pos)
        i2 = d.find(b"beginbfrange", r.pos)
        if i1 < 0 and i2 < 0:
            break
        if i2 < 0 or (0 <= i1 < i2):
            r.pos = i1 + len(b"beginbfchar")
            toks = read_tokens_until(b"endbfchar")
            for k in range(0, len(toks) - 1, 2):
                src, dst = toks[k], toks[k + 1]
                if isinstance(src, CString) and isinstance(dst, CString):
                    code = int.from_bytes(src.raw, "big")
                    out[code] = dst.raw.decode("utf-16-be", errors="surrogatepass")
        else:
            r.pos = i2 + len(b"beginbfrange")
            toks = read_tokens_until(b"endbfrange")
            for k in range(0, len(toks) - 2, 3):
                lo, hi, dst = toks[k], toks[k + 1], toks[k + 2]
                if not (isinstance(lo, CString) and isinstance(hi, CString)):
                    continue
                lo_i = int.from_bytes(lo.raw, "big")
                hi_i = int.from_bytes(hi.raw, "big")
                if isinstance(dst, CString):
                    base = int.from_bytes(dst.raw, "big")
                    width = len(dst.raw)
                    for c in range(lo_i, hi_i + 1):
                        out[c] = (base + c - lo_i).to_bytes(width, "big").decode(
                            "utf-16-be", errors="surrogatepass"
                        )
                elif isinstance(dst, list):
                    for off, item in enumerate(dst):
                        if isinstance(item, CString):
                            out[lo_i + off] = item.raw.decode(
                                "utf-16-be", errors="surrogatepass"
                            )
    return out


class EmbeddedCMap:
    """Parsed embedded /Encoding CMap stream (ISO 32000-1 §9.7.5.3,
    Adobe CMap/CIDFont spec): variable-width code spaces plus the
    code→CID (cidchar/cidrange) and code→Unicode (bfchar/bfrange)
    sections. The reference has no CMap support at all; predefined
    families are handled by name (Table 118) — this class covers fully
    custom encodings, which decode without ToUnicode when the CMap
    itself carries the mapping (bf sections directly; cid sections via
    the Identity reading CID == Unicode scalar, the same documented
    fallback the Identity-H path uses)."""

    __slots__ = (
        "ranges", "cid_map", "cid_ranges", "bf_map", "base_codec", "base",
        "ordering", "coll",
    )

    def __init__(self):
        # (width, lo_bytes, hi_bytes) — per-byte interval match
        self.ranges: list[tuple[int, bytes, bytes]] = []
        self.cid_map: dict[int, int] = {}
        self.cid_ranges: list[tuple[int, int, int]] = []  # lo, hi, cid0
        self.bf_map: dict[int, str] = {}
        # /CIDSystemInfo /Ordering → registered character-collection
        # CID→Unicode table (kernel.cidcollections); None keeps the
        # CID-as-Unicode Identity fallback
        self.ordering: Optional[str] = None
        self.coll: Optional[dict[int, str]] = None
        # `/Base-Name usecmap`: codes this CMap leaves unmapped fall
        # back to the imported PREDEFINED CMap's byte encoding
        self.base_codec: Optional[str] = None
        # embedded→embedded chaining (ISO 32000-1 Table 120 /UseCMap:
        # "a stream containing a CMap"): unmapped codes fall through
        # to the imported embedded CMap; code spaces are inherited
        # (merged into `ranges` at link time, Font._load_embedded_cmap)
        self.base: Optional["EmbeddedCMap"] = None

    def link_base(self, base: "EmbeddedCMap") -> None:
        """Attach an imported embedded base CMap: inherit its code
        spaces (merged, shortest-width-first invariant kept) and its
        usecmap byte-codec fallback; cid/bf lookups chain through
        ``base`` at query time (child sections override)."""
        self.base = base
        self.ranges = sorted(self.ranges + base.ranges, key=lambda t: t[0])
        if self.base_codec is None:
            self.base_codec = base.base_codec
        if self.ordering is None:
            self.ordering = base.ordering
            self.coll = base.coll

    def bf(self, code: int) -> Optional[str]:
        s = self.bf_map.get(code)
        if s is None and self.base is not None:
            return self.base.bf(code)
        return s

    def codes(self, raw: bytes) -> list[int]:
        """Tokenize show-string bytes into codes by code-space match
        (byte-wise interval per the CMap spec); an unmatched byte is
        consumed alone (permissive)."""
        return [c for c, _w in self.codes_w(raw)]

    def codes_w(self, raw: bytes) -> list[tuple[int, int]]:
        """codes() plus each code's BYTE WIDTH — word spacing applies
        to the single-byte code 32 only (§9.3.3), so consumers must be
        able to tell a 1-byte 32 from a 2-byte <0020>."""
        if _CTOK_CMAP_CODES is not None:
            return _CTOK_CMAP_CODES(raw, self.ranges)
        out = []
        i, n = 0, len(raw)
        ranges = self.ranges
        while i < n:
            for w, lo, hi in ranges:
                if i + w > n:
                    continue
                ok = True
                for k in range(w):
                    if not (lo[k] <= raw[i + k] <= hi[k]):
                        ok = False
                        break
                if ok:
                    out.append((int.from_bytes(raw[i : i + w], "big"), w))
                    i += w
                    break
            else:
                out.append((raw[i], 1))
                i += 1
        return out

    def cid(self, code: int) -> Optional[int]:
        c = self.cid_map.get(code)
        if c is not None:
            return c
        for lo, hi, cid0 in self.cid_ranges:
            if lo <= code <= hi:
                return cid0 + (code - lo)
        if self.base is not None:
            return self.base.cid(code)
        return None


_USECMAP_RE = _re.compile(rb"/([^\x00\t\n\x0c\r ()<>\[\]{}/%]+)\s+usecmap")
# /CIDSystemInfo /Ordering (Name) — the character-collection key
_ORDERING_RE = _re.compile(rb"/Ordering\s*\(([^)]*)\)")


def parse_embedded_cmap(data: bytes) -> EmbeddedCMap:
    """Parse codespacerange / cidchar / cidrange sections from an
    embedded CMap stream; bf sections are shared with the ToUnicode
    parser. `/Name usecmap` imports resolve when the base is a
    PREDEFINED CMap (Table 118): unmapped codes then decode through
    the base's byte encoding. Embedded→embedded imports resolve via
    the stream dict's /UseCMap entry (Font._load_embedded_cmap → the
    spec's Table 120 mechanism; content-level `usecmap` of a non-
    predefined name alone carries no stream reference to follow)."""
    cm = EmbeddedCMap()
    cm.bf_map = parse_tounicode_cmap(data)
    mo = _ORDERING_RE.search(data)
    if mo is not None:
        from .cidcollections import collection_table

        cm.ordering = mo.group(1).decode("latin-1")
        cm.coll = collection_table(cm.ordering)
    mu = _USECMAP_RE.search(data)
    if mu is not None:
        cm.base_codec = _PREDEFINED_CMAP_CODECS.get(
            mu.group(1).decode("latin-1")
        )
    r = Raw(data)
    d = data
    n = len(d)

    def read_tokens_until(end_kw: bytes) -> list:
        toks = []
        while r.pos < n:
            r.skip_ws_and_comments()
            if d.startswith(end_kw, r.pos):
                r.pos += len(end_kw)
                return toks
            toks.append(parse_object(r, None))
        raise EParseError(f"CMap: missing {end_kw.decode()}")

    sections = (
        (b"begincodespacerange", b"endcodespacerange"),
        (b"begincidchar", b"endcidchar"),
        (b"begincidrange", b"endcidrange"),
    )
    pos = 0
    while True:
        hits = [(d.find(b, pos), b, e) for (b, e) in sections]
        hits = [(i, b, e) for (i, b, e) in hits if i >= 0]
        if not hits:
            break
        i, b_kw, e_kw = min(hits)
        r.pos = i + len(b_kw)
        toks = read_tokens_until(e_kw)
        pos = r.pos
        if b_kw == b"begincodespacerange":
            for k in range(0, len(toks) - 1, 2):
                lo, hi = toks[k], toks[k + 1]
                if isinstance(lo, CString) and isinstance(hi, CString) and (
                    0 < len(lo.raw) == len(hi.raw) <= 4
                ):
                    cm.ranges.append((len(lo.raw), lo.raw, hi.raw))
        elif b_kw == b"begincidchar":
            for k in range(0, len(toks) - 1, 2):
                src, cid = toks[k], toks[k + 1]
                if isinstance(src, CString) and isinstance(cid, int):
                    cm.cid_map[int.from_bytes(src.raw, "big")] = cid
        else:  # cidrange
            for k in range(0, len(toks) - 2, 3):
                lo, hi, cid0 = toks[k], toks[k + 1], toks[k + 2]
                if (
                    isinstance(lo, CString)
                    and isinstance(hi, CString)
                    and isinstance(cid0, int)
                ):
                    cm.cid_ranges.append(
                        (
                            int.from_bytes(lo.raw, "big"),
                            int.from_bytes(hi.raw, "big"),
                            cid0,
                        )
                    )
    # shorter code spaces first: the spec's incremental byte-matching
    # resolves prefix overlaps toward the shortest matching space
    cm.ranges.sort(key=lambda t: t[0])
    return cm


# Predefined CMap name → Python codec (ISO 32000-1 Table 118; public
# Adobe character collections). For TEXT EXTRACTION the CID layer can
# be bypassed entirely: each predefined CMap family's CODE BYTES are a
# well-known character encoding (that is what the names mean), so
# decoding the raw show-string with that codec yields the text — and
# handles the variable 1-2-byte code widths for free.
_PREDEFINED_CMAP_CODECS: dict[str, str] = {}
for _names, _codec in (
    # Adobe-GB1 (Simplified Chinese)
    (("GB-EUC", "GBpc-EUC"), "gb2312"),
    (("GBK-EUC", "GBKp-EUC"), "gbk"),
    (("GBK2K",), "gb18030"),
    # Adobe-CNS1 (Traditional Chinese)
    (("B5pc", "ETen-B5", "ETenms-B5"), "big5"),
    (("HKscs-B5",), "big5hkscs"),
    # Adobe-Japan1
    (("83pv-RKSJ", "90ms-RKSJ", "90msp-RKSJ", "90pv-RKSJ", "Add-RKSJ",
      "Ext-RKSJ"), "cp932"),
    (("EUC",), "euc_jp"),
    # Adobe-Korea1 / KR
    (("KSC-EUC", "KSCpc-EUC"), "euc_kr"),
    (("KSCms-UHC", "KSCms-UHC-HW"), "cp949"),
    # Unicode CMaps: the code IS the UTF-16BE encoding
    (("UniGB-UCS2", "UniGB-UTF16", "UniCNS-UCS2", "UniCNS-UTF16",
      "UniJIS-UCS2", "UniJIS-UTF16", "UniKS-UCS2", "UniKS-UTF16"),
     "utf-16-be"),
):
    for _n in _names:
        for _sfx in ("-H", "-V"):
            _PREDEFINED_CMAP_CODECS[_n + _sfx] = _codec


# r7: linked embedded CMaps memoized across documents — keyed by the
# full chain's decoded bytes (see Font._load_embedded_cmap_keyed)
_EMB_CMAP_MEMO: dict = {}

# shared 256-entry byte→char tables (one Font() per document per font
# previously rebuilt these — 76k chr() calls per 300 docs for nothing)
_LATIN1_TABLE = [chr(i) for i in range(256)]
_WINANSI_TABLE = list(WINANSI_BYTE_TO_CHAR)
_MACROMAN_TABLE = [
    bytes([i]).decode("mac_roman", errors="replace") for i in range(256)
]
_IDENTITY_TRANS: dict = {}  # sentinel: identity decode, translate skipped
# shared str.translate maps for the two shared base tables — only a
# /Differences font builds a bespoke map (it copies the table first)
_WINANSI_TRANS = {i: _WINANSI_TABLE[i] for i in range(256)}
_MACROMAN_TRANS = {i: _MACROMAN_TABLE[i] for i in range(256)}


class Font:
    """Decoder for one /Font resource (ISO 32000-1 §9.6-9.7).

    Supported: simple fonts (1-byte codes) with /WinAnsiEncoding,
    /MacRomanEncoding, default/StandardEncoding (latin-1 approx) and
    /Differences; Type0 with Identity-H/V (2-byte codes) or a
    predefined CJK CMap (decoded via the corresponding byte encoding,
    Table 118); /ToUnicode CMap takes precedence when present for
    fixed-width codes.
    """

    __slots__ = (
        "two_byte", "tounicode", "table", "codec", "trans", "cmap",
        "widths", "first_char", "default_width",
        "cid_widths", "cid_wranges", "_code_memo", "_w_table", "t3_scale",
        "_fast_spec", "_space_width_memo",
    )

    def __init__(self, fdict: CDict, resolver: Optional[Resolver]):
        self.two_byte = False
        self.tounicode: Optional[dict[int, str]] = None
        self.table: Optional[list[str]] = None
        self.codec: Optional[str] = None
        self.cmap: Optional[EmbeddedCMap] = None  # embedded /Encoding CMap
        self.trans: Optional[dict[int, str]] = None  # lazy str.translate map
        # glyph metrics: simple fonts /FirstChar + /Widths (1000-em
        # units); Type0 defaults to /DW 1000 per code. None ⇒ width
        # projection unavailable for this font (span w stays null).
        self.widths: Optional[list[int]] = None
        self.first_char = 0
        self.default_width = 0

        subtype = fdict.get_name("Subtype", None, resolver)
        if subtype == "Type0":
            self.two_byte = True
            enc_v = fdict.deref(fdict.get("Encoding", COS_NULL), resolver)
            if isinstance(enc_v, Name) and not str(enc_v).startswith("Identity"):
                # predefined CJK CMap → known byte encoding
                self.codec = _PREDEFINED_CMAP_CODECS.get(str(enc_v))
            elif isinstance(enc_v, CStream):
                # embedded CMap stream: custom code spaces + cid/bf
                # sections carried in the file itself (§9.7.5.3);
                # /UseCMap chains to another embedded stream (r4)
                self.cmap = self._load_embedded_cmap(enc_v, resolver, 0)
        self.cid_widths: Optional[dict[int, int]] = None
        self.cid_wranges: list[tuple[int, int, int]] = []
        self._code_memo: dict = {}  # (code, bw) → (char, width)
        self._w_table = None  # lazy 256×int64 per-byte width table
        self._space_width_memo = False  # r9: space_width() cache flag
        # Type3: glyph-space widths scale by FontMatrix[0]·1000 into
        # the 1000-em contract (None for every other font class)
        self.t3_scale: Optional[float] = None
        if self.two_byte:
            # /DW (default 1000) + /W per-CID widths (ISO 32000-1
            # §9.7.4.3: `c [w1 .. wn]` lists, `c_lo c_hi w` ranges)
            dfs = fdict.get_array("DescendantFonts", None, resolver)
            dw = 1000
            if dfs:
                d0 = fdict.deref(dfs[0], resolver)
                if isinstance(d0, CDict):
                    dw = d0.get_int("DW", 1000, resolver)
                    warr = d0.get_array("W", None, resolver)
                    if warr:
                        self._parse_w_array(
                            [fdict.deref(x, resolver) for x in warr]
                        )
            self.default_width = dw
        elif subtype == "Type3":
            # Type3 glyph-procedure fonts (§9.6.5): byte codes decode
            # through /Encoding /Differences exactly like other simple
            # fonts; /Widths are in GLYPH space scaled by /FontMatrix
            # — the advance layer converts via w·a·1000 so the same
            # 1000-em arithmetic (and the same closed-form oracle)
            # applies. Fonts without /Widths+/FontMatrix report no
            # metrics (span w null).
            fm = fdict.get_array("FontMatrix", None, resolver)
            ws = fdict.get_array("Widths", None, resolver)
            if fm and len(fm) == 6 and ws:
                a = fdict.deref(fm[0], resolver)
                if isinstance(a, (int, float)) and not isinstance(a, bool):
                    vals = []
                    for x in ws:
                        v = fdict.deref(x, resolver)
                        if isinstance(v, (int, float)) and not isinstance(v, bool):
                            vals.append(_width(v))
                    if vals:
                        self.widths = vals
                        self.first_char = fdict.get_int("FirstChar", 0, resolver)
                        self.t3_scale = float(a) * 1000.0
        else:
            ws = fdict.get_array("Widths", None, resolver)
            if ws:
                vals = []
                for x in ws:
                    v = fdict.deref(x, resolver)
                    if isinstance(v, (int, float)) and not isinstance(v, bool):
                        vals.append(_width(v))
                if vals:
                    self.widths = vals
                    self.first_char = fdict.get_int("FirstChar", 0, resolver)
            fd = fdict.get_dict("FontDescriptor", None, resolver)
            if fd is not None:
                mw = fd.get_int("MissingWidth", -1, resolver)
                if mw >= 0:
                    self.default_width = mw
                    if self.widths is None:
                        self.widths = []  # metrics known via MissingWidth
        tu = fdict.get_stream("ToUnicode", None, resolver)
        if tu is not None:
            decoded = decode_stream(tu.data, tu.dict, resolver)
            self.tounicode = parse_tounicode_cmap(decoded)
        if not self.two_byte:
            enc = fdict.get("Encoding", COS_NULL)
            enc = fdict.deref(enc, resolver)
            base_table = _LATIN1_TABLE  # Standard ≈ latin-1 (shared,
            # copied only when /Differences mutates it)
            diffs: Optional[list] = None
            if isinstance(enc, Name):
                base_table = self._base_table(str(enc))
            elif isinstance(enc, CDict):
                base = enc.get_name("BaseEncoding", None, resolver)
                if base is not None:
                    base_table = self._base_table(str(base))
                diffs = enc.get_array("Differences", None, resolver)
            if diffs:
                base_table = list(base_table)
                code = 0
                for item in diffs:
                    if isinstance(item, (int, float)) and not isinstance(item, bool):
                        code = int(item)
                    elif isinstance(item, Name):
                        if 0 <= code < 256:
                            base_table[code] = _AGL.get(str(item), "�")
                        code += 1
            self.table = base_table
        # C interpreter fast path: for plain simple fonts the whole
        # show_info (decode + advance + counts) runs inside C off two
        # flat 256-entry tables — no per-show Python re-entry
        self._fast_spec = (
            _fast_show_spec(self)
            if (not self.two_byte and self.tounicode is None
                and self.t3_scale is None)
            else None
        )  # noqa: E501 — always set (two-byte fonts carry None)

    @staticmethod
    def _load_embedded_cmap(
        stream: CStream, resolver: Optional[Resolver], depth: int
    ) -> EmbeddedCMap:
        """Parse an embedded /Encoding CMap stream and follow its
        /UseCMap chain (ISO 32000-1 Table 120: a stream containing a
        CMap, or a predefined CMap name). Embedded→embedded imports
        resolve recursively (depth-guarded); the child inherits the
        base's code spaces and falls through to its cid/bf sections
        for unmapped codes (§9.7.5.2 usecmap semantics)."""
        return Font._load_embedded_cmap_keyed(stream, resolver, depth)[0]

    @staticmethod
    def _load_embedded_cmap_keyed(
        stream: CStream, resolver: Optional[Resolver], depth: int
    ) -> tuple[EmbeddedCMap, tuple]:
        """Memoized loader (r7): a linked EmbeddedCMap is a pure
        function of (this stream's decoded bytes, the resolved
        /UseCMap base — itself keyed recursively — and whether the
        depth guard still follows bases), and it is never mutated
        after load (link_base runs pre-insert; bf/cid/codes_w are
        queries; Font-level state lives on Font, not the CMap).  Real
        corpora reuse a handful of subset CMaps across thousands of
        documents — the ~100 µs parse runs once per distinct chain."""
        decoded = decode_stream(stream.data, stream.dict, resolver)
        base_cm: Optional[EmbeddedCMap] = None
        base_tag = None
        if depth < 4:
            base_v = stream.dict.deref(
                stream.dict.get("UseCMap", COS_NULL), resolver
            )
            if isinstance(base_v, CStream):
                base_cm, bkey = Font._load_embedded_cmap_keyed(
                    base_v, resolver, depth + 1
                )
                base_tag = ("e", bkey)
            elif isinstance(base_v, Name):
                base_tag = ("n", str(base_v))
        key = (depth < 4, base_tag, decoded)
        hit = _EMB_CMAP_MEMO.get(key)
        if hit is not None:
            # a CID→Unicode collection registered AFTER this chain was
            # memoized (register_collection / the cid2code loader is a
            # deployment-time hook) must still take effect: re-resolve
            # a missing coll on every hit — idempotent upgrade, never
            # a downgrade
            if hit.coll is None and hit.ordering is not None:
                from .cidcollections import collection_table

                hit.coll = collection_table(hit.ordering)
            return hit, key
        cm = parse_embedded_cmap(decoded)
        if base_cm is not None:
            cm.link_base(base_cm)
        elif (
            base_tag is not None
            and base_tag[0] == "n"
            and cm.base_codec is None
        ):
            cm.base_codec = _PREDEFINED_CMAP_CODECS.get(base_tag[1])
        if len(_EMB_CMAP_MEMO) >= 256:  # bound the bytes-keyed memo
            _EMB_CMAP_MEMO.clear()
        _EMB_CMAP_MEMO[key] = cm
        return cm, key

    def _parse_w_array(self, items: list) -> None:
        """CIDFont /W: alternating `c [w...]` or `c_lo c_hi w` runs;
        malformed runs are skipped (PERMISSIVE)."""
        wmap: dict[int, int] = {}
        ranges: list[tuple[int, int, int]] = []

        def _num(v) -> Optional[int]:
            return (
                int(v)
                if isinstance(v, (int, float)) and not isinstance(v, bool)
                else None
            )

        i, n = 0, len(items)
        while i < n:
            c = _num(items[i])
            if c is None:
                i += 1
                continue
            if i + 1 < n and isinstance(items[i + 1], list):
                for off, wv in enumerate(items[i + 1]):
                    w = _num(wv)
                    if w is not None:
                        wmap[c + off] = w
                i += 2
            elif i + 2 < n:
                hi, w = _num(items[i + 1]), _num(items[i + 2])
                if hi is not None and w is not None and hi >= c:
                    ranges.append((c, hi, w))
                i += 3
            else:
                break
        if wmap or ranges:
            self.cid_widths = wmap
            self.cid_wranges = ranges

    def _code_entry(self, code: int, w: int) -> tuple[str, int]:
        """(decoded char(s), glyph width) for ONE embedded-CMap code —
        the decode() lookup chain (ToUnicode > bf sections >
        CID-as-Unicode > usecmap base codec) plus the /W width; cached
        per (code, byte-width) by show_info."""
        cm = self.cmap
        tu = self.tounicode
        if tu is not None and code in tu:
            ch = tu[code]
        else:
            s = cm.bf(code)
            if s is not None:
                ch = s
            else:
                cid = cm.cid(code)
                if cid is not None and cm.coll is not None and (
                    cid in cm.coll
                ):
                    ch = cm.coll[cid]
                elif cid is not None and 0 <= cid <= 0x10FFFF:
                    ch = chr(cid)
                elif cm.base_codec is not None:
                    ch = code.to_bytes(w, "big").decode(
                        cm.base_codec, errors="replace"
                    )
                else:
                    ch = "�"
        return ch, self._cid_width(cm.cid(code))

    def _cid_width(self, cid: Optional[int]) -> int:
        if cid is not None and self.cid_widths is not None:
            w = self.cid_widths.get(cid)
            if w is not None:
                return w
            for lo, hi, w in self.cid_wranges:
                if lo <= cid <= hi:
                    return w
        return self.default_width

    @staticmethod
    def _base_table(name: str) -> list[str]:
        # shared constants — Font copies before any /Differences mutation
        if name == "WinAnsiEncoding":
            return _WINANSI_TABLE
        if name == "MacRomanEncoding":
            return _MACROMAN_TABLE
        return _LATIN1_TABLE

    def decode(self, raw: bytes) -> str:
        if self.two_byte:
            if self.codec is not None:
                # predefined CMap: raw code bytes ARE this encoding
                # (variable 1-2-byte widths handled by the codec)
                return raw.decode(self.codec, errors="replace")
            if self.cmap is not None:
                # embedded CMap: code-space tokenization, then per code
                # ToUnicode > bf sections > CID-as-Unicode (the same
                # Identity fallback documented below) > usecmap base
                # codec over the code's own bytes
                cm = self.cmap
                tu = self.tounicode
                out = []
                for code, w in cm.codes_w(raw):
                    if tu is not None and code in tu:
                        out.append(tu[code])
                        continue
                    s = cm.bf(code)
                    if s is not None:
                        out.append(s)
                        continue
                    cid = cm.cid(code)
                    if cid is not None and cm.coll is not None and (
                        cid in cm.coll
                    ):
                        # registered character collection (§9.7.3):
                        # CID → Unicode via the ordering table
                        out.append(cm.coll[cid])
                    elif cid is not None and 0 <= cid <= 0x10FFFF:
                        out.append(chr(cid))
                    elif cm.base_codec is not None:
                        out.append(
                            code.to_bytes(w, "big").decode(
                                cm.base_codec, errors="replace"
                            )
                        )
                    else:
                        out.append("�")
                return (
                    "".join(out)
                    .encode("utf-16", "surrogatepass")
                    .decode("utf-16", "replace")
                )
            codes = [
                int.from_bytes(raw[i : i + 2], "big") for i in range(0, len(raw) - 1, 2)
            ]
            if self.tounicode is not None:
                s = "".join(self.tounicode.get(c, "�") for c in codes)
                # BMP-only CMaps emit astral chars as surrogate halves;
                # recombine pairs (lone halves degrade to U+FFFD)
                return s.encode("utf-16", "surrogatepass").decode(
                    "utf-16", "replace"
                )
            # Identity fallback: code == Unicode scalar (UTF-16BE)
            return raw.decode("utf-16-be", errors="replace")
        if self.tounicode is not None:
            return "".join(self.tounicode.get(b, "�") for b in raw)
        # one C-level translate instead of a per-byte Python genexpr
        # (simple-font show strings are the hottest decode path)
        tr = self.trans
        if tr is None:
            t = self.table
            if t is None or t is _LATIN1_TABLE:
                tr = _IDENTITY_TRANS
            elif t is _WINANSI_TABLE:
                tr = _WINANSI_TRANS
            elif t is _MACROMAN_TABLE:
                tr = _MACROMAN_TRANS
            else:
                tr = {i: t[i] for i in range(256)}
            self.trans = tr
        s = raw.decode("latin-1")
        return s if tr is _IDENTITY_TRANS else s.translate(tr)

    def space_width(self) -> Optional[float]:
        """Width (1000-em units) of the word-space glyph — the
        single-byte code 32 (§9.3.3) — used as the yardstick by the
        §9.10-adjacent word-boundary heuristic (infer_spaces). None
        when the font carries no simple-font metrics (two-byte CID
        fonts: word gaps in generated corpora always ride a
        single-byte font, and a heuristic without a yardstick must
        stay silent rather than guess)."""
        # pure function of init-time metrics — memoized (r9): the
        # word-boundary heuristic asks once per positioning gap
        if self._space_width_memo is not False:
            return self._space_width_memo
        if self.two_byte or self.widths is None:
            sw = None
        else:
            i = 32 - self.first_char
            w = (
                self.widths[i]
                if 0 <= i < len(self.widths)
                else self.default_width
            )
            # t3_scale: glyph space → 1000-em
            sw = w * self.t3_scale if self.t3_scale is not None else float(w)
        self._space_width_memo = sw
        return sw

    def show_info(self, raw: bytes) -> tuple:
        """The per-show-string font work, consolidated into ONE call:
        (decoded_text, advance_1000 | None, nglyphs, nsp).

        Semantics are exactly decode(raw) + advance_1000(raw) + the
        §9.4.4 glyph/space counts the interpreter needs — but embedded
        CMaps tokenize the code bytes ONCE (decode and advance each
        used to run codes_w separately), and the C interpreter calls
        this single method per show op. nsp counts word-spacing
        positions (§9.3.3: the SINGLE-BYTE code 32 only) and is always
        computed — tw·nsp is exactly 0.0 when tw is 0.0 either way."""
        if self.two_byte:
            if self.codec is not None:
                text = raw.decode(self.codec, errors="replace")
                return text, len(text) * self.default_width, len(text), 0
            if self.cmap is not None:
                cm = self.cmap
                pairs = cm.codes_w(raw)
                # per-code (char, width) memo: the tounicode/bf/cid
                # lookup chain and the /W search run once per DISTINCT
                # (code, byte-width); repeat codes hit one dict get.
                # The pair loop is C-level comprehensions + join/sum/
                # count (r9) — entries are tuples (never falsy), so
                # `or` short-circuits straight to the memo hit
                memo = self._code_memo
                memo_get = memo.get
                ce = self._code_entry
                ents = [
                    memo_get(p) or memo.setdefault(p, ce(p[0], p[1]))
                    for p in pairs
                ]
                nsp = pairs.count((32, 1))
                text = (
                    "".join([e[0] for e in ents])
                    .encode("utf-16", "surrogatepass")
                    .decode("utf-16", "replace")
                )
                if self.cid_widths is None and not self.cid_wranges:
                    adv = len(pairs) * self.default_width
                else:
                    adv = sum([e[1] for e in ents])
                return text, adv, len(pairs), nsp
            # fixed 2-byte codes (Identity-H/V) — decode the code ints
            # once via numpy-free C-level slicing: big-endian pairs
            n = len(raw) // 2
            codes = None
            if self.tounicode is not None or (
                self.cid_widths is not None or self.cid_wranges
            ):
                codes = [
                    (raw[i] << 8) | raw[i + 1] for i in range(0, n * 2, 2)
                ]
            if self.tounicode is not None:
                g = self.tounicode.get
                s = "".join([g(c, "�") for c in codes])
                text = s.encode("utf-16", "surrogatepass").decode(
                    "utf-16", "replace"
                )
            else:
                text = raw.decode("utf-16-be", errors="replace")
            if self.cid_widths is not None or self.cid_wranges:
                if not self.cid_wranges:
                    g = self.cid_widths.get
                    dflt = self.default_width
                    adv = sum([g(c, dflt) for c in codes])
                else:
                    adv = sum(map(self._cid_width, codes))
            else:
                adv = n * self.default_width
            return text, adv, n, 0
        return self.decode(raw), self.advance_1000(raw), len(raw), raw.count(32)

    def advance_1000(self, raw: bytes) -> Optional[int]:
        """Glyph-advance sum for one show string in 1000-em units, as
        an exact INTEGER (so width math is bit-identical across
        engines), or None when this font carries no metrics."""
        if self.two_byte:
            if self.codec is not None:
                # variable-width codes: advance per DECODED char
                n = len(raw.decode(self.codec, errors="replace"))
            elif self.cmap is not None:
                if self.cid_widths is not None or self.cid_wranges:
                    # per-CID /W widths (code → CID via the CMap)
                    cm = self.cmap
                    return sum(
                        self._cid_width(cm.cid(c)) for c in cm.codes(raw)
                    )
                n = len(self.cmap.codes(raw))  # advance per CODE
            else:
                if self.cid_widths is not None or self.cid_wranges:
                    # Identity encoding: CID == code
                    return sum(
                        self._cid_width(
                            int.from_bytes(raw[i : i + 2], "big")
                        )
                        for i in range(0, len(raw) - 1, 2)
                    )
                n = len(raw) // 2
            return n * self.default_width
        if self.widths is None:
            return None
        ws, dflt = self.widths, self.default_width
        t3 = self.t3_scale
        if not ws or (len(ws) == 1 and ws[0] == dflt):
            base = len(raw) * dflt  # constant-width fast path
            return base * t3 if t3 is not None else base
        fc = self.first_char
        hi = fc + len(ws)
        if _CTOK_TADV is not None:
            # one C pass over a per-byte width table (built once per
            # font) instead of a per-byte Python loop — exact ints
            t = self._w_table
            if t is None:
                t = self._w_table = _array(
                    "q",
                    [ws[b - fc] if fc <= b < hi else dflt for b in range(256)],
                )
            base = _CTOK_TADV(raw, t)
            return base * t3 if t3 is not None else base
        w = 0
        for b in raw:
            w += ws[b - fc] if fc <= b < hi else dflt
        return w * t3 if t3 is not None else w


def _width(v) -> int:
    """One /Widths entry as an int. The per-byte width tables are
    int64 arrays, so a width beyond that range is a broken font."""
    w = int(v)
    if not -_I64 <= w < _I64:
        raise EParseError(f"font width out of range: {v!r}")
    return w


_FAST_SPEC_MEMO: dict = {}


def _fast_show_spec(font: "Font"):
    """(uni_u32_bytes, widths_i64_bytes | None) for an eligible simple
    font, or None.  uni maps byte → decoded code point (the latin-1 +
    translate-table semantics of Font.decode); widths mirror
    advance_1000's per-byte table.  Memoized on the table/metrics
    identity so per-document Font rebuilds don't re-derive it."""
    t = font.table
    tkey = (
        id(t)
        if t is None or t is _LATIN1_TABLE or t is _WINANSI_TABLE
        or t is _MACROMAN_TABLE
        else tuple(t)
    )
    wkey = (
        (tuple(font.widths) if font.widths is not None else None),
        font.first_char,
        font.default_width,
    )
    key = (tkey, wkey)
    spec = _FAST_SPEC_MEMO.get(key, False)
    if spec is not False:
        return spec
    if t is None or t is _LATIN1_TABLE:
        uni = _array("I", range(256))
    else:
        if any(len(c) != 1 for c in t):
            _FAST_SPEC_MEMO[key] = None
            return None  # multi-char glyph names: Python path
        uni = _array("I", [ord(c) for c in t])
    if font.widths is None:
        wbytes = None
    else:
        ws, fc, dflt = font.widths, font.first_char, font.default_width
        hi = fc + len(ws)
        wbytes = _array(
            "q", [ws[b - fc] if fc <= b < hi else dflt for b in range(256)]
        ).tobytes()
    spec = (uni.tobytes(), wbytes)
    # bounded (the _PRODUCE_NAME_CACHE precedent): a font-diverse real
    # corpus on a long-lived executor must not grow the memo unbounded
    # — past the cap the spec is still returned, just not retained
    if len(_FAST_SPEC_MEMO) < 4096:
        _FAST_SPEC_MEMO[key] = spec
    return spec


_DEFAULT_FONT = Font(CDict(), None)


# ---------------------------------------------------------------------------
# Content-stream tokenizer: values + operator keywords
# ---------------------------------------------------------------------------


# content-stream master scanner: whitespace/comments are consumed
# implicitly by the leading group, then ONE classifying match per
# token — no per-token skip_ws calls, no Raw indirection (together
# those were ~45% of interpreter time). Content streams contain NO
# indirect references (ISO 32000-1 §7.8.2), so numbers never need the
# `id gen R` backtracking probe of the generic tokenizer. Strings,
# hex strings, dicts and arrays fall out of the match (delim group)
# and are delegated to parse_object at that offset.
_CT_MASTER_RE = _re.compile(
    rb"(?:[\x00\t\n\x0c\r ]+|%[^\r\n]*)*"
    rb"(?:(?P<num>[+-]?(?:[0-9]+(?:\.[0-9]*)?|\.[0-9]+))"
    rb"(?![^\x00\t\n\x0c\r ()<>\[\]{}/%])"
    rb"|(?P<name>/[^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"
    rb"|(?P<op>[^\x00\t\n\x0c\r ()<>\[\]{}/%0-9+\-.][^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"
    rb"|(?P<delim>[()<>\[\]{}])"
    rb")?"
)

# interned content-stream names (F1, Im0… repeat massively per doc)
_CT_NAME_CACHE: dict[bytes, Name] = {}
_CT_NAME_CACHE_MAX = 4096


def _lex_content_py(data: bytes):
    """Yield (operator_bytes, operands_tuple) events for one content
    stream — the pure-Python content lexer; `_ctok.lex_content` is the
    C twin with identical semantics (differential parity in
    tests/test_ctok_parity.py). PERMISSIVE byte-level rules: a stray /
    malformed byte clears pending operands and advances one byte;
    stray ``) > { }`` clear operands; ``[``/``]`` build TJ arrays
    inline; ``(``/``<`` delegate to the generic object parser;
    BI..EI inline images are skipped AT THE LEXER (the dispatcher just
    records the media span)."""
    r = Raw(data)
    pos = 0
    end = len(data)
    master = _CT_MASTER_RE.match
    name_cache = _CT_NAME_CACHE
    operands: list = []
    arr_stack: list[list] = []
    while pos < end:
        m = master(data, pos)
        if m is None:  # cannot happen (alternation is total) — safety
            pos += 1
            continue
        mend = m.end()
        lg = m.lastgroup
        if lg is None:
            if mend == pos:  # no progress: stray byte, consume opaque
                pos += 1
                operands = []
                continue
            pos = mend  # trailing whitespace/comment run
            continue
        pos = mend
        if lg == "num":
            num = m.group("num")
            if len(num) > 18:
                operands.append(wide_number(num))
            else:
                operands.append(float(num) if b"." in num else int(num))
            continue
        if lg == "name":
            nm = m.group("name")
            name_obj = name_cache.get(nm)
            if name_obj is None:
                if b"#" in nm:  # #xx escapes: the generic parser's job
                    r.pos = m.start("name")
                    operands.append(parse_object(r, None))
                    pos = r.pos
                    continue
                name_obj = Name(nm[1:].decode("latin-1"))
                if len(name_cache) < _CT_NAME_CACHE_MAX:
                    name_cache[nm] = name_obj
            operands.append(name_obj)
            continue
        if lg == "delim":
            c = m.group("delim")
            if c == b"[":  # arrays built inline (TJ is 1 in 4 spans):
                arr_stack.append(operands)  # no generic-parser round-trip
                operands = []
            elif c == b"]":
                if arr_stack:
                    finished = operands
                    operands = arr_stack.pop()
                    operands.append(finished)
                else:
                    operands = []  # stray — opaque operator semantics
            elif c in (b"(", b"<"):
                r.pos = m.start("delim")
                operands.append(parse_object(r, None))
                pos = r.pos
            else:  # stray ) > { } — opaque operator, PERMISSIVE skip
                operands = []
            continue
        op = m.group("op")
        if op == b"BI":
            # inline image: skip to the EI delimiter at lex level.
            # Binary image data may itself contain the bytes 'EI'
            # (r4): only an EI that is ws-PRECEDED and ws/delim/EOF-
            # FOLLOWED terminates the image (the token-boundary rule)
            idx = pos
            pos = end
            while True:
                idx = data.find(b"EI", idx)
                if idx < 0:
                    break
                if (idx == 0 or is_ws(data[idx - 1])) and (
                    idx + 2 >= end
                    or is_ws(data[idx + 2])
                    or is_delim(data[idx + 2])
                ):
                    pos = idx + 2
                    break
                idx += 1
        yield op, tuple(operands)
        operands = []


# fused C content-stream INTERPRETER (r4): lexing + the text-state
# machine + all matrix/advance float math run in C; Python is entered
# once per show string (Font.show_info) and once per Tf/Do (the
# _resource_callbacks closures). Identical semantics to
# _interpret_content_py — differential parity in test_ctok_parity.py.
_CTOK_LEX = getattr(_CTOK, "lex_content", None)
_CTOK_INTERP = getattr(_CTOK, "interpret_content", None)
_CTOK_CMAP_CODES = getattr(_CTOK, "cmap_codes_w", None)
_CTOK_TADV = getattr(_CTOK, "table_advance", None)


class Span(tuple):
    """(kind, text, media_ref, x, y, w, h) — offset assigned by the
    caller. Geometry is the span-START position in device space
    (text: first show op's text origin = Tm×CTM translation; media:
    the CTM translation at `Do`), plus the box where derivable (media:
    |CTM| scale components; text: h = font size, w = None — glyph
    width metrics are out of scope, positions are span-accurate, not
    glyph-accurate)."""

    __slots__ = ()

    def __new__(
        cls,
        kind: str,
        text: Optional[str],
        media_ref: Optional[str],
        x: Optional[float] = None,
        y: Optional[float] = None,
        w: Optional[float] = None,
        h: Optional[float] = None,
    ):
        return super().__new__(cls, (kind, text, media_ref, x, y, w, h))


_MAT_ID = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def _matmul(m, n):
    """(a,b,c,d,e,f) ≡ [[a b 0],[c d 0],[e f 1]] row-vector convention
    (ISO 32000-1 §8.3.4): result applies m, then n."""
    a, b, c, d, e, f = m
    A, B, C, D, E, F = n
    return (
        a * A + b * C,
        a * B + b * D,
        c * A + d * C,
        c * B + d * D,
        e * A + f * C + E,
        e * B + f * D + F,
    )


def _nums(ops, n):
    """Last n operands as floats, or None if malformed (PERMISSIVE)."""
    if len(ops) < n:
        return None
    out = []
    for v in ops[-n:]:
        t = type(v)  # exact-type check: bool is an int subclass
        if t is int or t is float:
            out.append(float(v))
        else:
            return None
    return out


def _interpret_content_py(
    data: bytes,
    resources: Optional[CDict],
    resolver: Optional[Resolver],
    _depth: int = 0,
    doc_font_cache: Optional[dict] = None,
    _ctm: tuple = _MAT_ID,
    tj_kerning: bool = False,
    infer_spaces: bool = False,
    mark=None,
) -> list[Span]:
    """Interpret one (decoded) content stream → ordered spans — the
    pure-Python interpreter; `_ctok.interpret_content` is the fused
    C twin with identical semantics (differential parity in
    tests/test_ctok_parity.py).

    ``infer_spaces=True`` (r8, §9.10-adjacent): word-boundary
    inference for text painted WITHOUT space glyphs (positioning-only
    gaps). Each rightward gap EVENT — a TJ kerning number, or a
    same-baseline Td/Tm jump past the end of the text shown since the
    last positioning op — inserts one ' ' into the open span when the
    text-space gap strictly exceeds HALF the word-space displacement
    ((w₃₂/1000·Tfs + Tc + Tw)·Th, §9.3.2). θ = 1/2 exactly: the mixed
    corpus's −250 TJ kern (¼ em against a 500-unit space) lands ON
    the boundary and stays a kern; a full space-width gap (−500)
    clears it. All factors are exact binary fractions, so the
    threshold compare is bit-deterministic. One event ⇒ one space:
    consecutive gap events yield consecutive spaces (runs of spaces
    in the source text). Python-only path (the C twin punts to this
    interpreter when the flag is set).

    Operators handled: BT/ET (text objects, §9.4.1), Tf (font select),
    Td/TD/Tm/T*/TL (positioning — projected into per-span (x, y)
    through Tm × CTM), Tj/TJ/'/\" (show ops, §9.4.3; TJ kerning
    numbers ignored for text content per §9.10.2 simple extraction —
    with ``tj_kerning=True`` they DO displace the span width per the
    §9.4.4 advance), '/\" perform their implicit T* next-line move,
    Tc/Tw/Tz/Ts (state, no-op for content), q/Q/cm (CTM stack,
    §8.4.4), Do (XObject: Image → media span positioned by the CTM,
    Form → recurse with /Matrix composed), BI..EI inline images
    (skipped as one media span), BDC/BMC/EMC (marked content, §14.6:
    reported to ``mark`` when given, else skipped). Unknown operators
    are skipped with their operands — the PERMISSIVE posture of §2.8.
    """
    get_font, do_xobject = _resource_callbacks(
        resources, resolver, _depth, doc_font_cache, tj_kerning, infer_spaces
    )
    spans: list[Span] = []
    in_text = False
    cur_font = _DEFAULT_FONT
    cur_size = 0.0
    # text state (§9.3.1): char spacing / word spacing / horizontal
    # scale — persist across BT/ET; every advance term scales by th
    tc = 0.0
    tw = 0.0
    th = 1.0
    ctm = _ctm
    ctm_stack: list[tuple] = []
    tm = tlm = _MAT_ID  # text matrix / text line matrix (§9.4.2)
    leading = 0.0
    span_xy: Optional[tuple] = None  # first-show origin of the open span
    span_h: Optional[float] = None
    span_adv = 0.0  # accumulated device-space glyph advance (width)
    span_w_known = True  # False once any show op lacks font metrics
    text_parts: list[str] = []
    trm_c: Optional[tuple] = None  # lazily computed tm×ctm (show ops)
    # infer_spaces tracking: text-space advance since tm was last set
    # by a positioning op (the expected pen x relative to tm), valid
    # only while every show since then had known metrics
    tm_adv = 0.0
    tm_adv_known = True

    def gap_event(gap_text: float) -> None:
        """One rightward positioning gap → one inferred ' ' when the
        gap strictly exceeds θ=1/2 of the word-space displacement."""
        if not in_text or gap_text <= 0.0:
            return
        sw = cur_font.space_width()
        if sw is None:
            return
        space_disp = ((sw * cur_size) / 1000.0 + tc + tw) * th
        if space_disp > 0.0 and gap_text * 2.0 > space_disp:
            text_parts.append(" ")

    def tm_moved(new_tm: tuple) -> None:
        """Positioning op set a new tm: fire a gap event when the jump
        stays on the same baseline, then reset the advance tracker.

        tm_adv accumulates in TEXT-SPACE units while tm translations
        live in the tlm coordinate frame, so the translation delta is
        divided by the horizontal scale tm[0] before comparing
        (r8 review fix — a '2 0 0 2 …' Tm otherwise halves real gaps
        and doubles phantom ones). Rotated/skewed frames (tm[1] or
        tm[2] nonzero) and mirrored ones (tm[0] <= 0) fire no event:
        the heuristic stays conservative — a missed space over an
        invented one."""
        nonlocal tm_adv, tm_adv_known
        if in_text and tm_adv_known and new_tm[5] == tm[5]:
            a = tm[0]
            if tm[1] == 0.0 and tm[2] == 0.0 and a > 0.0:
                gap_event((new_tm[4] - tm[4]) / a - tm_adv)
        tm_adv = 0.0
        tm_adv_known = True

    def show(s) -> None:
        nonlocal span_xy, span_h, span_adv, span_w_known, trm_c
        nonlocal tm_adv, tm_adv_known
        if isinstance(s, CString):
            if trm_c is None:
                trm_c = _matmul(tm, ctm)
            if span_xy is None:
                span_xy = (trm_c[4], trm_c[5])
                span_h = cur_size or None
            # §9.4.4 advance: ((w0/1000)·Tfs + Tc·n + Tw·nsp)·Th per
            # show string. Word spacing applies to the single-byte
            # code 32 only (§9.3.3), so fixed-2-byte CID fonts never
            # accrue Tw. Every factor the generator emits is an exact
            # binary fraction, so the SQL oracle matches bit-for-bit
            # regardless of association order.
            text, adv, nglyphs, nsp = cur_font.show_info(s.raw)
            if adv is None:
                span_w_known = False
                tm_adv_known = False
            else:
                # one shared text-space displacement (identical float
                # association order to the two inline forms it replaces:
                # (expr)·th then ·trm_c[0])
                d = ((adv * cur_size) / 1000.0 + tc * nglyphs + tw * nsp) * th
                span_adv += d * trm_c[0]
                if infer_spaces:
                    tm_adv += d
            text_parts.append(text)

    def next_line() -> None:
        nonlocal tlm, tm, trm_c, tm_adv, tm_adv_known
        tlm = _matmul((1.0, 0.0, 0.0, 1.0, 0.0, -leading), tlm)
        tm = tlm
        trm_c = None
        tm_adv = 0.0  # new line: never a same-baseline gap
        tm_adv_known = True

    events = (
        _CTOK_LEX(data)
        if _CTOK_LEX is not None and data.__class__ is bytes
        else _lex_content_py(data)
    )
    for op, operands in events:
        # dispatch ordered by op frequency (r9): show ops first — one
        # Tj/TJ per text chunk dwarfs every state op; the chain is
        # mutually exclusive so ordering is semantics-free
        if op == b"Tj":
            if operands:
                show(operands[-1])
        elif op == b"TJ":
            if operands and isinstance(operands[-1], list):
                for item in operands[-1]:
                    t = type(item)
                    if infer_spaces and (t is int or t is float):
                        # §9.4.3 kern t moves by (−t/1000·Tfs)·Th —
                        # a gap event for the boundary heuristic, and
                        # tracked so a later Td gap stays exact
                        d = ((-item * cur_size) / 1000.0) * th
                        gap_event(d)
                        tm_adv += d
                    if tj_kerning and (t is int or t is float):
                        # §9.4.3: a TJ number t moves the text position
                        # by tx = (−t/1000·Tfs)·Th — with the flag on,
                        # that displacement counts toward span width
                        # (kern before the first show op shifts within
                        # the span, not its origin — documented)
                        if trm_c is None:
                            trm_c = _matmul(tm, ctm)
                        span_adv += (
                            (-item * cur_size) / 1000.0
                        ) * th * trm_c[0]
                    else:
                        show(item)
        elif op == b"BT":
            in_text = True
            text_parts = []
            tm = tlm = _MAT_ID
            span_xy, span_h = None, None
            span_adv, span_w_known = 0.0, True
            trm_c = None
            tm_adv, tm_adv_known = 0.0, True
        elif op == b"ET":
            if in_text:
                x, y = span_xy if span_xy is not None else (None, None)
                w = span_adv if (span_w_known and span_xy is not None) else None
                spans.append(Span("text", "".join(text_parts), None, x, y, w, span_h))
            in_text = False
        elif op == b"Tf":
            if operands and isinstance(operands[0], Name):
                cur_font = get_font(operands[0])
            sz = _nums(operands, 1)
            if sz is not None:
                cur_size = sz[0]
        elif op == b"Td" or op == b"TD":
            v = _nums(operands, 2)
            if v is not None:
                if op == b"TD":
                    leading = -v[1]
                tlm = _matmul((1.0, 0.0, 0.0, 1.0, v[0], v[1]), tlm)
                if infer_spaces:
                    tm_moved(tlm)
                tm = tlm
                trm_c = None
        elif op == b"Tm":
            v = _nums(operands, 6)
            if v is not None:
                if infer_spaces:
                    tm_moved(tuple(v))
                tm = tlm = tuple(v)
                trm_c = None
        elif op == b"T*":
            next_line()
        elif op == b"TL":
            v = _nums(operands, 1)
            if v is not None:
                leading = v[0]
        elif op == b"Tc":
            v = _nums(operands, 1)
            if v is not None:
                tc = v[0]
        elif op == b"Tw":
            v = _nums(operands, 1)
            if v is not None:
                tw = v[0]
        elif op == b"Tz":
            v = _nums(operands, 1)
            if v is not None:
                th = v[0] / 100.0
        elif op == b"q":
            ctm_stack.append(ctm)
        elif op == b"Q":
            if ctm_stack:
                ctm = ctm_stack.pop()
                trm_c = None
        elif op == b"cm":
            v = _nums(operands, 6)
            if v is not None:
                ctm = _matmul(tuple(v), ctm)
                trm_c = None
        elif op == b"'":
            if operands:
                next_line()
                show(operands[-1])
        elif op == b'"':
            if operands:
                # aw ac string " (§9.4.3): SETS word + char spacing
                # (persistent text state), then T* + show
                v = _nums(operands[:-1], 2) if len(operands) >= 3 else None
                if v is not None:
                    tw, tc = v[0], v[1]
                next_line()
                show(operands[-1])
        elif op == b"Do":
            if operands and isinstance(operands[-1], Name):
                sub = do_xobject(operands[-1], ctm)
                if sub is not None:
                    spans.extend(sub)
        elif op == b"BI":
            # inline image (BI..EI skipped by the LEXER) → one media span
            spans.append(
                Span("media", None, "inline", ctm[4], ctm[5], ctm[0], ctm[3])
            )
        elif mark is not None and (op == b"BDC" or op == b"BMC" or op == b"EMC"):
            mark(op, operands[-1] if operands else None, len(spans))
    return spans


def _resource_callbacks(
    resources: Optional[CDict],
    resolver: Optional[Resolver],
    _depth: int,
    doc_font_cache: Optional[dict],
    tj_kerning: bool,
    infer_spaces: bool,
):
    """The two callbacks both interpreters take from Python: font
    resolution (resources lookup + document-scope Font cache) → a Font,
    and ``Do`` → its spans (an image XObject's one media span at the
    CTM; a Form recursed with /Matrix composed) or None."""
    if _depth > 16:
        raise EParseError("XObject recursion too deep")
    font_cache: dict = doc_font_cache if doc_font_cache is not None else {}
    # name→resolved memos at DOCUMENT scope, keyed by the identity of
    # the /Resources dict: pages usually INHERIT one shared resources
    # object, so the lookup chain (Resources→Font→<name>→deref) runs
    # once per document instead of once per content stream.  Identity
    # keys are safe here: every candidate dict is pinned alive by the
    # parser's object cache for the document's lifetime.  NB streams
    # with resources=None share ONE doc-scope memo under key None —
    # correct while resolution depends only on (resources, name).
    res_key = id(resources) if resources is not None else None
    local_fonts: dict = font_cache.setdefault(("fonts", res_key), {})
    local_xobjs: dict = font_cache.setdefault(("xobjs", res_key), {})

    def get_font(name) -> Font:
        f = local_fonts.get(name)
        if f is not None:
            return f
        fr = (
            resources.get_dict("Font", None, resolver)
            if resources is not None
            else None
        )
        fd = fr.get_dict(str(name), None, resolver) if fr is not None else None
        if fd is None:
            f = _DEFAULT_FONT
        else:
            key = id(fd)
            f = font_cache.get(key)
            if f is None:
                f = Font(fd, resolver)
                font_cache[key] = f
        local_fonts[name] = f
        return f

    def do_xobject(name, ctm: tuple) -> Optional[list]:
        xo = local_xobjs.get(name, False)
        if xo is False:
            xr = (
                resources.get_dict("XObject", None, resolver)
                if resources is not None
                else None
            )
            xo = (
                xr.get_stream(str(name), None, resolver)
                if xr is not None
                else None
            )
            local_xobjs[name] = xo
        if xo is None:
            return None
        sub = xo.dict.get_name("Subtype", None, resolver)
        if sub == "Image":
            mref = xo.dict.get_name("Name", None, resolver)
            return [
                Span(
                    "media",
                    None,
                    str(mref) if mref else str(name),
                    ctm[4],
                    ctm[5],
                    ctm[0],
                    ctm[3],
                )
            ]
        if sub == "Form":
            sub_res = xo.dict.get_dict("Resources", None, resolver) or resources
            decoded = decode_stream(xo.data, xo.dict, resolver)
            sub_ctm = ctm
            fm = xo.dict.get_array("Matrix", None, resolver)
            fv = _nums(list(fm), 6) if fm else None
            if fv is not None:
                sub_ctm = _matmul(tuple(fv), ctm)
            return interpret_content(
                decoded,
                sub_res,
                resolver,
                _depth + 1,
                font_cache,
                _ctm=sub_ctm,
                tj_kerning=tj_kerning,
                infer_spaces=infer_spaces,
            )
        return None

    return get_font, do_xobject


def _interpret_content_c(
    data: bytes,
    resources: Optional[CDict],
    resolver: Optional[Resolver],
    _depth: int,
    doc_font_cache: Optional[dict],
    _ctm: tuple,
    tj_kerning: bool,
) -> list[Span]:
    """Drive the fused C interpreter with the Python callbacks the
    state machine can't own (_resource_callbacks)."""
    get_font, do_xobject = _resource_callbacks(
        resources, resolver, _depth, doc_font_cache, tj_kerning, False
    )
    return _CTOK_INTERP(
        data, get_font, do_xobject, Span, _DEFAULT_FONT, _ctm,
        1 if tj_kerning else 0,
    )


def interpret_content(
    data: bytes,
    resources: Optional[CDict],
    resolver: Optional[Resolver],
    _depth: int = 0,
    doc_font_cache: Optional[dict] = None,
    _ctm: tuple = _MAT_ID,
    tj_kerning: bool = False,
    infer_spaces: bool = False,
    mark=None,
) -> list[Span]:
    """Interpret one (decoded) content stream → ordered spans (see
    _interpret_content_py for the operator contract). Dispatches to
    the fused C interpreter when the extension is available
    (PDFSPARK_NO_CTOK=1 or any compile failure falls back to the
    authoritative pure-Python implementation). infer_spaces (the
    §9.10 word-boundary heuristic) and ``mark`` run on the Python
    interpreter — opt-in per-query paths, not the default hot path.

    ``mark(op, last_operand, n)`` is called at each BDC/BMC/EMC
    operator of THIS stream (Form XObjects do not report theirs), n =
    the number of spans emitted before it; last_operand is None when
    the operator has none. A text span is emitted at its ET, so it
    belongs to the marked content open there."""
    if (
        _CTOK_INTERP is not None
        and data.__class__ is bytes
        and not infer_spaces
        and mark is None
    ):
        return _interpret_content_c(
            data, resources, resolver, _depth, doc_font_cache, _ctm, tj_kerning
        )
    return _interpret_content_py(
        data, resources, resolver, _depth, doc_font_cache, _ctm, tj_kerning,
        infer_spaces=infer_spaces, mark=mark,
    )
