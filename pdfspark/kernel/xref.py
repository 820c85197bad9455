"""Cross-reference resolution + object store (SURVEY.md §2.4 X1-X10).

Semantics transcribed from ``parser/PDFParser.java`` and
``parser/XRefTable.java``. All state is per-document and lives inside
one mapInPandas batch pass — the Spark engine never materializes xref
maps as distributed state (SURVEY §1.3).

Conflict semantics (incremental-update PDFs, XRefTable.java:37-43):
trailer sections are parsed newest-first following /Prev, and an
existing entry is kept unless the new one has strictly greater
generation → first-writer-wins per (id,gen) → newest revision wins.
Relational analog: Window.partitionBy(obj_id).orderBy(desc(gen),
asc(trailer_seq)) + row_number()==1 (exposed as a DataFrame op in
pdfspark/ops/relational.py for the exploded representation).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

import numpy as np

from .cos import (
    CDict,
    COS_NULL,
    COSValue,
    CStream,
    CString,
    Ref,
    _CTOK,
    parse_object,
    try_read_id,
)
from .errors import (
    DEFAULT_SETTINGS,
    EOF_LOOKUP_RANGE,
    HEADER_LOOKUP_RANGE,
    STARTXREF_LOOKUP_RANGE,
    EParseError,
    ParserSettings,
    soft,
)
from .filters import decode_stream
from .raw import Raw

import re

_CACHE_MISS = object()

# "%PDF-M.N" version token, terminated by ws/EOL/EOF (the cursor-walk
# + str.split parse this replaces accepted the same shapes)
_VERSION_RE = re.compile(rb"([0-9]+)\.([0-9]+)(?=[\r\n \t]|\Z)")

# classic-table subsection header `start count` (X2): one C-level
# match replaces skip_ws + two fetch_uint cursor calls per subsection
_XREF_SUB_RE = re.compile(
    rb"[\x00\t\n\x0c\r ]*([0-9]+)[\x00\t\n\x0c\r ]+([0-9]+)[\x00\t\n\x0c\r ]*"
)

# digit-column → value dot products for the vectorized classic table
_POW10_10 = 10 ** np.arange(9, -1, -1, dtype=np.int64)
_POW10_5 = 10 ** np.arange(4, -1, -1, dtype=np.int64)

# ObjStm header tokenizer (X9 fast path): `count` uints, each preceded
# by optional PDF whitespace — the exact charset Raw.skip_ws consumes
_DIGIT_RUN_RE = re.compile(rb"[0-9]+")
_OBJSTM_HDR_CACHE: dict[int, re.Pattern] = {}


def _objstm_hdr_re(count: int) -> re.Pattern:
    pat = _OBJSTM_HDR_CACHE.get(count)
    if pat is None:
        pat = re.compile(rb"(?:[\x00\t\n\x0c\r ]*+[0-9]++){%d}" % count)
        if len(_OBJSTM_HDR_CACHE) >= 64:
            _OBJSTM_HDR_CACHE.clear()
        _OBJSTM_HDR_CACHE[count] = pat
    return pat

# fused C seek+verify+parse for indirect objects (optional fast path)
_CTOK_PARSE_INDIRECT = getattr(_CTOK, "parse_indirect", None)
# one-pass C classic-table parse (all-or-nothing; anomalies → Python)
_CTOK_PARSE_XREF = getattr(_CTOK, "parse_xref_table", None)


def _xref_stream_int(v) -> int:
    """One /W or /Index entry as an int; a non-number is a broken
    xref stream."""
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        raise EParseError(f"xref stream: non-numeric /W or /Index entry {v!r}")
    return int(v)


@dataclass(slots=True)
class XRefEntry:
    """Tagged union (parser/XRefEntry.java:25-58): uncompressed
    {id,gen,offset} or compressed {id,container,index} with gen=-1;
    memo fields cached_object / container decompression live on the
    table (XRefEntry.java:34-35)."""

    num: int
    gen: int
    offset: int = -1
    container: int = -1
    index_in_container: int = -1

    @property
    def compressed(self) -> bool:
        return self.container >= 0


@dataclass
class XRef:
    """int→entry map + memo caches (parser/XRefTable.java:8-16)."""

    entries: dict[int, XRefEntry] = field(default_factory=dict)
    cache: dict[int, COSValue] = field(default_factory=dict)
    container_data: dict[int, tuple[bytes, list[tuple[int, int]]]] = field(
        default_factory=dict
    )

    def add_uncompressed(self, num: int, gen: int, offset: int) -> None:
        """X5 — keep existing unless strictly greater gen; offset 0 =
        free object, skipped (XRefTable.java:27-43)."""
        if offset == 0:
            return
        cur = self.entries.get(num)
        if cur is None or gen > cur.gen:
            self.entries[num] = XRefEntry(num, gen, offset=offset)

    def add_compressed(self, num: int, container: int, idx: int) -> None:
        """Compressed entries always overwrite (XRefTable.java:45-53)."""
        self.entries[num] = XRefEntry(num, -1, container=container, index_in_container=idx)


class Parser:
    """Structural parser: entry-point resolve → xref chains → object
    store with lazy parse + memoization (PDFParser.java)."""

    def __init__(self, data: bytes, settings: Optional[ParserSettings] = None):
        self.raw = Raw(data, settings)
        self.settings = settings or DEFAULT_SETTINGS
        self.security = None  # StandardSecurityHandler after unlock()
        self._encrypt_direct = None  # direct (non-ref) /Encrypt dict
        self.xref = XRef()
        self.root_ref: Optional[Ref] = None
        self.info_ref: Optional[Ref] = None
        self.encrypt_ref: Optional[Ref] = None
        self.file_id: Optional[list] = None
        self.version: tuple[int, int] = (1, 4)
        self._trailer_seq = 0
        self._scan_cache: Optional[dict[int, int]] = None
        # True iff a recovery path ran: §C.2 reconstruction or the
        # stale-startxref rescan.  Surfaces in the fuzz driver row as
        # status='salvaged' (vs 'ok' for a clean entry-point parse).
        self.salvaged = False

    # ---- X1: entry-point resolve (PDFParser.parse, :62-119) ----------
    def parse(self) -> None:
        d = self.raw.data
        st = self.settings
        # MIN_PDF_RAW_CONTENT_LENGTH = 10 (ParserSettings.java:5)
        if len(d) < 10:
            raise EParseError("This is not a valid PDF file (too short)")
        hdr = 0
        if not (d.startswith(b"%PDF-") or d.startswith(b"%FDF-")):
            # B8 forward scan ≤100 bytes (PDFParser.java:71-81)
            hdr = d.find(b"%PDF-", 0, HEADER_LOOKUP_RANGE)
            if hdr < 0:
                raise EParseError("no %PDF- header found")
        self._parse_version(hdr)
        if st.allow_reconstruction:
            try:
                self._parse_entry()
            except EParseError:
                self._reconstruct()
            return
        self._parse_entry()

    def _parse_entry(self) -> None:
        d = self.raw.data
        # %%EOF reverse scan within 1024 of end; missing marker is a
        # SOFT syntax event — fall back to EOF = file end
        # (PDFParser.java:91-95, ParserSettings.java:16)
        eof = self.raw.reverse_scan(len(d), b"%%EOF", EOF_LOOKUP_RANGE)
        if eof < 0:
            soft("syntax", "missing %%EOF marker")
            eof = len(d)
        # startxref reverse scan within 100 of %%EOF (PDFParser.java:97)
        sx = self.raw.reverse_scan(eof, b"startxref", STARTXREF_LOOKUP_RANGE)
        if sx < 0:
            raise EParseError("missing startxref")
        r = self.raw
        r.pos = sx + len(b"startxref")
        xref_offset = r.fetch_uint()
        if xref_offset == 0 or xref_offset >= r.length:
            raise EParseError("Invalid xref offset")
        try:
            self._parse_xref_section(xref_offset)
        except EParseError:
            # broken-writer recovery: some files carry a stale
            # startxref (e.g. the reference's own minimal_crlf fixture
            # points 40 bytes past its real table). Rescan for the
            # nearest real `xref` keyword below the startxref marker
            # and retry once — Acrobat-style salvage; malformed files
            # with no table at all still fail.
            alt = self._find_xref_keyword(before=sx)
            if alt is None or alt == xref_offset:
                raise
            self.salvaged = True
            self.xref = XRef()
            self.root_ref = self.info_ref = self.encrypt_ref = None
            self.file_id = None
            self._parse_xref_section(alt)
        if self.root_ref is None:
            raise EParseError("trailer has no /Root")

    def _reconstruct(self) -> None:
        """§C.2 full table reconstruction (opt-in via
        ParserSettings.allow_reconstruction; the reference has no
        equivalent — it requires startxref, PDFParser.java:97-98):

        1. whole-file ``id gen obj`` scan, last occurrence wins
           (newest incremental revision);
        2. harvest every ``trailer`` dict newest-first for
           /Root /Info /Encrypt /ID;
        3. expand any scanned object streams so compressed members
           resolve;
        4. if still no /Root, adopt the last /Type /Catalog object.
        """
        self.salvaged = True
        self.xref = XRef()
        self.root_ref = self.info_ref = self.encrypt_ref = None
        self.file_id = None
        self._encrypt_direct = None
        table = self._scan_table()
        if not table:
            raise EParseError("reconstruction failed: no indirect objects")
        for num, off in table.items():
            self.xref.add_uncompressed(num, 0, off)
        # trailers, newest (latest in file) first — harvest is first-wins
        d = self.raw.data
        r = self.raw
        pos = len(d)
        while True:
            i = d.rfind(b"trailer", 0, pos)
            if i < 0:
                break
            pos = i
            save = r.pos
            try:
                r.pos = i + 7
                r.skip_ws_and_comments()
                t = parse_object(r, self._resolve)
                if isinstance(t, CDict):
                    self._harvest_trailer(t)
            except Exception:
                pass
            finally:
                r.pos = save
        # classify top-level objects (xref-stream harvest + catalog
        # candidates), WITHOUT expanding object streams yet: in an
        # encrypted file the ObjStm containers are ciphered, and the
        # security handler can only be built after /Encrypt + /ID have
        # been harvested from a trailer or xref-stream dict
        catalog_num: Optional[int] = None
        objstm_nums: list[int] = []
        for num in sorted(table):
            try:
                obj = self.get_object(num, 0)
            except Exception:
                continue
            if isinstance(obj, CStream):
                if obj.dict.get_name("Type") == "XRef":
                    # xref-stream files carry the trailer fields in
                    # the stream dict — harvest Root/Info/Encrypt/ID
                    self._harvest_trailer(obj.dict)
                if obj.dict.get_name("Type") == "ObjStm":
                    objstm_nums.append(num)
            elif isinstance(obj, CDict) and obj.get_name("Type") == "Catalog":
                catalog_num = num
        # salvage × encryption (r4): broken encrypted files are a real
        # corpus staple. Empty-password unlock BEFORE expansion so the
        # containers decode; unlock() clears the pre-unlock caches
        # (they hold ciphered bytes). A passworded doc fails unlock
        # and proceeds ciphered — the M10 policy rejects it downstream
        # exactly like its startxref-intact twin.
        if self.encrypt_ref is not None or self._encrypt_direct is not None:
            try:
                self.unlock(b"")
            except Exception:
                pass
        for num in objstm_nums:
            try:
                obj = self.get_object(num, 0)
                if not isinstance(obj, CStream):
                    continue
                n = obj.dict.get_int("N", 0, self._resolve)
                hdr = Raw(
                    decode_stream(obj.data, obj.dict, self._resolve),
                    self.settings,
                )
                pairs = [
                    (hdr.fetch_uint(), hdr.fetch_uint()) for _ in range(n)
                ]
            except Exception:
                continue
            for idx, (mnum, _rel) in enumerate(pairs):
                if mnum not in self.xref.entries:
                    self.xref.add_compressed(mnum, num, idx)
        if self.root_ref is None and catalog_num is not None:
            self.root_ref = Ref(catalog_num, 0)
        if self.root_ref is None:
            # last resort: the catalog may live inside an object stream
            for num, e in list(self.xref.entries.items()):
                if not e.compressed:
                    continue
                try:
                    obj = self.get_object(num, 0)
                except Exception:
                    continue
                if isinstance(obj, CDict) and obj.get_name("Type") == "Catalog":
                    self.root_ref = Ref(num, 0)
                    break
        if self.root_ref is None:
            raise EParseError("reconstruction failed: no /Root, no /Catalog")

    def _find_xref_keyword(self, before: int) -> Optional[int]:
        d = self.raw.data
        pos = before
        while pos > 0:
            i = d.rfind(b"xref", 0, pos)
            if i < 0:
                return None
            if not d.startswith(b"startxref", i - 5):
                return i
            pos = i

    def _parse_version(self, hdr_pos: int) -> None:
        """processVersion (PDFParser.java:121-137): accepts 1.0-1.8 via
        soft-assert."""
        d = self.raw.data
        p = hdr_pos + 5
        m = _VERSION_RE.match(d, p)
        if m is None:
            soft("syntax", "unparsable version header")
            return
        self.version = (int(m.group(1)), int(m.group(2)))
        if not (self.version[0] == 1 and 0 <= self.version[1] <= 8):
            soft("unsupported", f"unsupported PDF version {self.version}")

    # ---- X2/X3/X4 dispatch + /Prev chain -----------------------------
    def _parse_xref_section(self, offset: int, _depth: int = 0) -> None:
        if _depth > 64:
            raise EParseError("xref /Prev chain too deep")
        r = self.raw
        if offset < 0 or offset >= r.length:
            raise EParseError(f"xref offset {offset} out of range")
        r.pos = offset
        r.skip_ws_and_comments()
        if r.check_signature(b"xref"):
            r.pos += 4
            self._parse_classic_table()
            trailer = self._parse_trailer()
            self._harvest_trailer(trailer)
            # hybrid: /XRefStm → also parse the xref stream
            # (PDFParser.java:328-332)
            xstm = trailer.get_int("XRefStm", -1)
            if xstm >= 0:
                save = r.pos
                self._parse_xref_stream_at(xstm)
                r.pos = save
            prev = trailer.get_int("Prev", 0)
            if prev > 0:
                self._parse_xref_section(prev, _depth + 1)
        else:
            trailer = self._parse_xref_stream_at(offset)
            self._harvest_trailer(trailer)
            prev = trailer.get_int("Prev", 0)
            if prev > 0:
                self._parse_xref_section(prev, _depth + 1)

    def _parse_classic_table(self) -> None:
        """X2 (PDFParser.parseXRefTable, :337-375): subsections
        ``start count`` then count × fixed-width ``offset10 gen5 flag``;
        only 'n' kept, 'f' skipped; broken-writer heuristic: if
        start==1 and first entry is `0 65535 f`, shift start to 0.

        Strict 20-byte blocks are tokenized with ONE C-level split per
        subsection (three tokens per row); 19-byte-row writers (LF
        only, e.g. the reference's minimal fixtures) and ragged blocks
        fall back to the token-wise cursor parse."""
        r = self.raw
        d = r.data
        pos = r.pos
        add = self.xref.add_uncompressed
        if _CTOK_PARSE_XREF is not None and d.__class__ is bytes:
            # one C pass over every strict subsection; None on ANY
            # anomaly (ragged rows, broken-first-free quirk, …) →
            # the full Python machinery below runs from r.pos
            res = _CTOK_PARSE_XREF(d, pos)
            if res is not None:
                rows, endpos = res
                # bulk upsert with add_uncompressed's exact semantics
                # inlined (X5: skip free, keep unless strictly greater
                # gen) — one method call per TABLE, not per entry
                entries = self.xref.entries
                eget = entries.get
                for num, gen, off in rows:
                    if off == 0:
                        continue
                    cur = eget(num)
                    if cur is None or gen > cur.gen:
                        entries[num] = XRefEntry(num, gen, offset=off)
                r.pos = endpos
                return
        while True:
            m = _XREF_SUB_RE.match(d, pos)
            if m is None:
                break  # 'trailer' keyword next
            start = int(m.group(1))
            count = int(m.group(2))
            pos = m.end()
            block = d[pos : pos + 20 * count]
            # strict spec rows are exactly 20 bytes ("nnnnnnnnnn ggggg f␣␊")
            strict = len(block) == 20 * count and all(
                block[i * 20 + 10] == 0x20 and block[i * 20 + 16] == 0x20
                for i in range(min(count, 4))
            )
            if strict and count >= 32:
                # Large subsection: ONE numpy pass — digit columns →
                # int64 offsets/gens, flag from byte 17 (or 18 when
                # the writer pads " f\n"). Rows that are not
                # digit-clean in-use/free rows fall to a per-row token
                # split (PDFParser.java:362-371 isolation semantics).
                # Small subsections (incremental writers emit count=1
                # sections per object) stay on the split path below:
                # numpy's ~50 µs fixed cost per call would dominate.
                arr = np.frombuffer(block, dtype=np.uint8).reshape(count, 20)
                okd = ((arr[:, 0:10] - 48) < 10).all(axis=1) & (
                    (arr[:, 11:16] - 48) < 10
                ).all(axis=1)
                offs = (arr[:, 0:10].astype(np.int64) - 48) @ _POW10_10
                gens = (arr[:, 11:16].astype(np.int64) - 48) @ _POW10_5
                f0 = arr[:, 17]
                flag = np.where(f0 != 0x20, f0, arr[:, 18])
                if (
                    start == 1
                    and count > 0
                    # a corrupt first row (non-numeric fields) is
                    # simply not the `0 65535 f` free-list head —
                    # never let it raise ValueError
                    and bool(okd[0])
                    and self._is_broken_first_free(
                        int(offs[0]), int(gens[0]), bytes([flag[0]])
                    )
                ):
                    start = 0  # broken-writer fix (PDFParser.java:346-352)
                clean_n = okd & (flag == 0x6E)
                messy = ~(okd & ((flag == 0x6E) | (flag == 0x66)))
                if messy.any():
                    for i in np.nonzero(messy)[0].tolist():
                        parts = block[i * 20 : (i + 1) * 20].split()
                        if len(parts) < 3:
                            soft("structure", "short xref row")
                            continue
                        if parts[2][:1] == b"n":
                            if parts[0].isdigit() and parts[1].isdigit():
                                add(start + i, int(parts[1]), int(parts[0]))
                            else:
                                soft("structure", "non-numeric xref row")
                idx = np.nonzero(clean_n)[0]
                if idx.size:
                    for i, g, o in zip(
                        idx.tolist(), gens[idx].tolist(), offs[idx].tolist()
                    ):
                        add(start + i, g, o)
                pos += 20 * count
                continue
            if strict:
                toks = block.split()
                if len(toks) == 3 * count:
                    if (
                        start == 1
                        and count > 0
                        # a corrupt first row (non-numeric tokens) is
                        # simply not the `0 65535 f` free-list head —
                        # never let it raise ValueError
                        and toks[0].isdigit()
                        and toks[1].isdigit()
                        and self._is_broken_first_free(
                            int(toks[0]), int(toks[1]), toks[2][:1]
                        )
                    ):
                        start = 0  # broken-writer fix (PDFParser.java:346-352)
                    for i in range(count):
                        if toks[3 * i + 2] == b"n":
                            t0, t1 = toks[3 * i], toks[3 * i + 1]
                            if t0.isdigit() and t1.isdigit():
                                add(start + i, int(t1), int(t0))
                            else:
                                soft("structure", "non-numeric xref row")
                    pos += 20 * count
                    continue
                # strict geometry but ragged token count: per-row
                # isolation (a short/garbled row soft-skips, its
                # neighbours still resolve — PDFParser.java:362-371)
                for i in range(count):
                    parts = block[i * 20 : (i + 1) * 20].split()
                    if len(parts) < 3:
                        soft("structure", "short xref row")
                        continue
                    if parts[2][:1] == b"n":
                        if parts[0].isdigit() and parts[1].isdigit():
                            add(start + i, int(parts[1]), int(parts[0]))
                        else:
                            soft("structure", "non-numeric xref row")
                pos += 20 * count
                continue
            r.pos = pos
            for i in range(count):
                off = r.fetch_uint()
                gen = r.fetch_uint()
                r.skip_ws()
                flag = d[r.pos : r.pos + 1]
                r.pos += 1
                if i == 0 and start == 1 and self._is_broken_first_free(
                    off, gen, flag
                ):
                    start = 0  # broken-writer fix (PDFParser.java:346-352)
                if flag == b"n":
                    add(start + i, gen, off)
            pos = r.pos
        r.pos = pos

    @staticmethod
    def _is_broken_first_free(off: int, gen: int, flag: bytes) -> bool:
        """Mislabeled-start salvage (PDFParser.java:346-352): a
        subsection claiming `start=1` whose first row is the free-list
        head `0 65535 f` was written by a 1-indexed writer — every
        object id in it is shifted by one. Compare numeric values, not
        raw tokens: strict rows zero-pad the offset to 10 digits."""
        return off == 0 and gen == 65535 and flag == b"f"

    def _parse_trailer(self) -> CDict:
        """X3 (PDFParser.parseTrailer, :305-335)."""
        r = self.raw
        r.skip_ws_and_comments()
        if not r.check_signature(b"trailer"):
            raise EParseError("expected 'trailer' keyword")
        r.pos += 7
        r.skip_ws_and_comments()
        t = parse_object(r, self._resolve)
        if not isinstance(t, CDict):
            raise EParseError("trailer is not a dictionary")
        return t

    def _harvest_trailer(self, t: CDict) -> None:
        """Root/Info/Encrypt/ID are first-wins across trailers —
        newest revision wins (PDFParser.java:460-500)."""
        if self.root_ref is None:
            self.root_ref = t.get_ref("Root")
        if self.info_ref is None:
            self.info_ref = t.get_ref("Info")
        if self.encrypt_ref is None:
            self.encrypt_ref = t.get_ref("Encrypt")
            if self.encrypt_ref is None and isinstance(t.get("Encrypt"), CDict):
                # direct /Encrypt dict also marks encryption
                self.encrypt_ref = Ref(-1, -1)
                self._encrypt_direct = t.get("Encrypt")
        if self.file_id is None:
            fid = t.get("ID")
            if isinstance(fid, list):
                self.file_id = fid
        self._trailer_seq += 1

    def _parse_xref_stream_at(self, offset: int) -> CDict:
        """X4 (PDFParser.parseXRefStream, :377-458): ``id gen obj`` +
        /Type /XRef stream; decode (Flate+Predictor in practice); rows
        are fixed-width per /W → numpy bulk split; type 0 free, 1
        {offset,gen}, 2 {container,idx}; unknown type skipped."""
        r = self.raw
        r.pos = offset
        r.skip_ws_and_comments()
        got = try_read_id(r)
        if got is None or got[2] != b"obj":
            raise EParseError(f"xref stream: no 'id gen obj' at {offset}")
        obj = parse_object(r, self._resolve)
        if not isinstance(obj, CStream):
            raise EParseError("xref stream object is not a stream")
        sd = obj.dict
        if sd.get_name("Type") != "XRef":
            soft("structure", "/Type is not /XRef")
        w = sd.get_array("W")
        if not w or len(w) < 3:
            raise EParseError("xref stream missing /W")
        w1, w2, w3 = (_xref_stream_int(x) for x in w[:3])
        size = sd.get_int("Size", 0)
        index = sd.get_array("Index") or [0, size]
        data = decode_stream(obj.data, sd, self._resolve)
        row = w1 + w2 + w3
        if row <= 0:
            raise EParseError("xref stream zero row width")
        nrows_avail = len(data) // row
        # field split: numpy bulk pass for big tables (SURVEY §2.4 X4);
        # below 32 rows numpy's ~50µs fixed cost per op dominates (the
        # same gate the classic table uses), so small tables take a
        # per-row int.from_bytes split — and both paths convert to
        # plain ints ONCE (tolist), never per-entry numpy scalars
        if nrows_avail >= 32:
            arr = np.frombuffer(
                data[: nrows_avail * row], dtype=np.uint8
            ).reshape(nrows_avail, row)

            def field_vals(lo: int, width: int, default: int) -> list:
                if width == 0:
                    return [default] * nrows_avail
                v = np.zeros(nrows_avail, dtype=np.int64)
                for k in range(width):
                    v = (v << 8) | arr[:, lo + k]
                return v.tolist()

            types = field_vals(0, w1, 1)  # absent type → type 1 (spec)
            f2 = field_vals(w1, w2, 0)
            f3 = field_vals(w1 + w2, w3, 0)
        else:
            fb = int.from_bytes
            types, f2, f3 = [], [], []
            for ri in range(nrows_avail):
                o = ri * row
                types.append(fb(data[o : o + w1], "big") if w1 else 1)
                f2.append(fb(data[o + w1 : o + w1 + w2], "big"))
                f3.append(fb(data[o + w1 + w2 : o + row], "big"))
        # entry upsert loop with add_uncompressed/add_compressed
        # semantics inlined (X5: type-1 skips offset 0, keeps existing
        # unless strictly greater gen; type-2 always overwrites) — one
        # dict op per row instead of a method call per row, same move
        # the classic-table C bulk path makes above
        entries = self.xref.entries
        eget = entries.get
        ri = 0
        it = iter(index)
        for start, count in zip(it, it):
            start, count = _xref_stream_int(start), _xref_stream_int(count)
            for i in range(count):
                if ri >= nrows_avail:
                    soft("structure", "xref stream short data")
                    break
                t, a, b = types[ri], f2[ri], f3[ri]
                num = start + i
                ri += 1
                if t == 1:
                    if a != 0:
                        cur = eget(num)
                        if cur is None or b > cur.gen:
                            entries[num] = XRefEntry(num, b, offset=a)
                elif t == 2:
                    entries[num] = XRefEntry(
                        num, -1, container=a, index_in_container=b
                    )
                elif t != 0:
                    soft("structure", f"unknown xref entry type {t}")
        return sd

    # ---- X6-X9: object lookup / dereference --------------------------
    def _resolve(self, ref: Ref) -> COSValue:
        # cache-hit fast path skips the get_object frame — _resolve is
        # the resolver callback on every deref chain in the hot loop
        v = self.xref.cache.get(ref.num, _CACHE_MISS)
        if v is not _CACHE_MISS:
            return v
        return self.get_object(ref.num, ref.gen)

    def get_object(self, num: int, gen: int = 0) -> COSValue:
        """X6 — missing id → COS_NULL (not an error, XRefTable.java:
        63-66); gen mismatch tolerated with log; memoized."""
        xref = self.xref
        v = xref.cache.get(num, _CACHE_MISS)
        if v is not _CACHE_MISS:
            return v
        e = xref.entries.get(num)
        if e is None:
            return COS_NULL
        if not e.compressed and e.gen != gen:
            soft("structure", f"gen mismatch for obj {num}: want {gen} have {e.gen}")
        if e.compressed:
            val = self._get_compressed(e)
        else:
            val = self._parse_indirect_at(e)
            if (
                self.security is not None
                and self.security.key is not None
                and not (self.encrypt_ref and num == self.encrypt_ref.num)
            ):
                val = self._decrypt_value(val, num, e.gen)
        xref.cache[num] = val
        return val

    def _parse_indirect_at(self, e: XRefEntry) -> COSValue:
        """X8 (PDFParser.parseIndirectObject, :213-224): seek offset,
        verify ``id gen obj`` header, then parseObject.
        If the recorded offset is stale (broken writer), fall back to a
        one-time whole-file object scan (salvage mode — the recovery
        the reference's unused `minimal/no xref` fixtures anticipate;
        spec-sanctioned per ISO 32000-1 §C.2 'reconstruct the table').

        Hot path: `_ctok.parse_indirect` fuses seek + header verify +
        value parse in one C call; None (any header mismatch) routes
        to the same salvage scan the Python path uses."""
        r = self.raw
        d = r.data
        if not 0 <= e.offset <= len(d):  # beyond the file: stale
            return self._parse_indirect_salvage(e)
        if _CTOK_PARSE_INDIRECT is not None and d.__class__ is bytes:
            v = _CTOK_PARSE_INDIRECT(
                d, e.offset, e.num, self._resolve, r.settings.allow_reconstruction
            )
            if v is not None:
                return v
            return self._parse_indirect_salvage(e)
        save = r.pos
        try:
            r.pos = e.offset
            r.skip_ws_and_comments()
            got = try_read_id(r)
            if got is None or got[2] != b"obj" or got[0] != e.num:
                return self._parse_indirect_salvage(e)
            return parse_object(r, self._resolve)
        finally:
            r.pos = save

    def _parse_indirect_salvage(self, e: XRefEntry) -> COSValue:
        """Stale-offset recovery shared by both header-verify paths."""
        r = self.raw
        save = r.pos
        try:
            alt = self._scan_table().get(e.num)
            if alt is None:
                raise EParseError(
                    f"no 'id gen obj' at offset {e.offset} for obj {e.num}"
                )
            soft("structure", f"stale xref offset for obj {e.num}; salvaged by scan")
            r.pos = alt
            r.skip_ws_and_comments()
            got = try_read_id(r)
            if got is None or got[2] != b"obj":
                raise EParseError(f"salvage scan failed for obj {e.num}")
            return parse_object(r, self._resolve)
        finally:
            r.pos = save

    def _scan_table(self) -> dict[int, int]:
        """Lazy whole-file ``id gen obj`` scan; last occurrence wins
        (newest revision in incremental files)."""
        if self._scan_cache is None:
            import re

            table: dict[int, int] = {}
            for m in re.finditer(
                rb"(?<![0-9])(\d{1,9})[^\S\n]+(\d{1,5})[^\S\n]+obj\b", self.raw.data
            ):
                table[int(m.group(1))] = m.start()
            self._scan_cache = table
        return self._scan_cache

    def _get_compressed(self, e: XRefEntry) -> COSValue:
        """X9 (PDFParser.getObject, :140-211): decode the container
        object stream ONCE and memoize its header pairs; parse the
        requested member. One decode amortized over N members."""
        cont = self.xref.container_data.get(e.container)
        if cont is None:
            ce = self.xref.entries.get(e.container)
            if ce is None or ce.compressed:
                raise EParseError(f"object stream container {e.container} missing")
            # Resolve via get_object, NOT _parse_indirect_at: on an
            # encrypted file (PDF 1.5+ pairs /Encrypt with ObjStm
            # routinely) the container stream bytes are ciphered under
            # the container's own (num, gen) and must pass the
            # _decrypt_value hook before decode_stream; member objects
            # inside are stored plaintext (ISO 32000-1 §7.6.2) and are
            # correctly NOT re-decrypted below.
            cobj = self.get_object(e.container, ce.gen)
            if not isinstance(cobj, CStream):
                raise EParseError(f"container {e.container} is not a stream")
            sd = cobj.dict
            if sd.get_name("Type") != "ObjStm":
                soft("structure", "/Type is not /ObjStm")
            n = sd.get_int("N", 0, self._resolve)
            first = sd.get_int("First", 0, self._resolve)
            decoded = decode_stream(cobj.data, sd, self._resolve)
            # header = 2N ws-separated uints; ONE anchored regex match
            # + digit-run findall tokenizes exactly like 2N fetch_uint
            # calls (same ws class, same maximal digit runs, and a
            # failed match falls to the loop whose first missing uint
            # raises the same EParseError)
            pairs = []
            hm = (
                _objstm_hdr_re(2 * n).match(decoded)
                if 0 < n <= 10000
                else None
            )
            if hm is not None:
                nums = _DIGIT_RUN_RE.findall(hm.group(0))
                for i in range(n):
                    pairs.append(
                        (int(nums[2 * i]), first + int(nums[2 * i + 1]))
                    )
            else:
                hdr = Raw(decoded, self.settings)
                for _ in range(n):
                    oid = hdr.fetch_uint()
                    rel = hdr.fetch_uint()
                    pairs.append((oid, first + rel))
            cont = (decoded, pairs)
            self.xref.container_data[e.container] = cont
        decoded, pairs = cont
        if e.index_in_container >= len(pairs):
            raise EParseError(
                f"index {e.index_in_container} out of range in objstm {e.container}"
            )
        oid, off = pairs[e.index_in_container]
        if not 0 <= off <= len(decoded):
            raise EParseError(
                f"member offset {off} beyond objstm {e.container}"
            )
        sub = Raw(decoded, self.settings)
        sub.pos = off
        return parse_object(sub, self._resolve)

    # ---- X10: eager full materialization -----------------------------
    def parse_all_objects(self) -> dict[int, COSValue]:
        """PDFParser.parseAndDecodeAllObjects (:506-511) — force-parse
        every xref key; the per-document extraction pass."""
        out = {}
        for num in list(self.xref.entries):
            out[num] = self.get_object(num, self.xref.entries[num].gen)
        return out

    @property
    def is_encrypted(self) -> bool:
        """M10 (PDFFile.java:104-106): /Encrypt present in trailer."""
        return self.encrypt_ref is not None

    # ---- standard security handler (EXTENSION past the reference,
    # which only flags /Encrypt — README.md:5) -------------------------
    def unlock(self, password: bytes = b"") -> bool:
        """Authenticate the standard security handler with a user
        password (empty = the overwhelmingly common real-corpus case).
        On success every subsequently resolved object has its strings
        and stream bytes decrypted transparently; returns False (and
        leaves the file readable-but-ciphered) otherwise."""
        if not self.is_encrypted:
            return True
        if self.security is None:
            from .crypt import handler_from_dict

            if self._encrypt_direct is not None:
                enc = self._encrypt_direct
            else:
                enc = self.get_object(self.encrypt_ref.num, self.encrypt_ref.gen)
            fid0 = b""
            if self.file_id and isinstance(self.file_id[0], CString):
                fid0 = self.file_id[0].raw
            self.security = handler_from_dict(enc, fid0)
        if self.security.key is not None:
            return True
        ok = self.security.authenticate(password)
        if ok:
            # drop anything memoized pre-unlock (it was cached with
            # ciphered strings/streams); repopulated decrypted on demand
            self.xref.cache.clear()
            self.xref.container_data.clear()
        return ok

    def _decrypt_value(self, v: COSValue, num: int, gen: int) -> COSValue:
        """Recursive in-place decryption of one resolved indirect
        object (ISO 32000-1 §7.6.2): strings and stream bytes only;
        nested dicts/arrays inherit the container's (num, gen). Never
        called for objects inside object streams (the container was
        decrypted as a stream; members are stored plaintext)."""
        h = self.security
        if isinstance(v, CString):
            v.raw = h.decrypt(v.raw, num, gen, is_string=True)
            return v
        if isinstance(v, CStream):
            self._decrypt_value(v.dict, num, gen)
            tp = v.dict.get_name("Type")
            if tp == "XRef" or (tp == "Metadata" and not h.encrypt_metadata):
                return v  # never encrypted / exempted by the handler
            v.data = h.decrypt(v.data, num, gen, is_string=False)
            return v
        if isinstance(v, CDict):
            for item in v.values():  # mutation is in-place, never rebinds
                self._decrypt_value(item, num, gen)
            return v
        if isinstance(v, list):
            for item in v:
                self._decrypt_value(item, num, gen)
            return v
        return v
