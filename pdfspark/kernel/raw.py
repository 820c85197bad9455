"""Byte-cursor primitives over one document payload (SURVEY.md §2.2 B1-B9).

Semantics transcribed from the reference's ``parser/PDFRawData.java``
(cursor over a single ``byte[]``; explicitly single-threaded — the Spark
engine keeps exactly one ``Raw`` per document inside one mapInPandas
batch, so this state never crosses an executor/process boundary).

Per-function provenance is cited in docstrings; behavior is pinned by
``tests/test_raw.py``.
"""

from __future__ import annotations

import re

from .errors import DEFAULT_SETTINGS, EParseError, ParserSettings

_WS_COMMENTS_RE = re.compile(rb"(?:[\x00\t\n\x0c\r ]+|%[^\r\n]*)+")
_WS_RE = re.compile(rb"[\x00\t\n\x0c\r ]+")

# PDF whitespace set: NUL HT LF FF CR SP  (ISO 32000-1 §7.2.2; the
# reference's skipWS uses {SP,TAB,LF,CR,NUL} — PDFRawData.java:54-63 —
# we add FF per spec, a documented divergence in an untested path).
WHITESPACE = b"\x00\t\n\x0c\r "


def is_ws(b: int) -> bool:
    return b in (0x00, 0x09, 0x0A, 0x0C, 0x0D, 0x20)


def is_delim(b: int) -> bool:
    return b in (0x28, 0x29, 0x3C, 0x3E, 0x5B, 0x5D, 0x7B, 0x7D, 0x2F, 0x25)


class Raw:
    """data/pos/length cursor (``PDFRawData.java:29-36``)."""

    __slots__ = ("data", "pos", "length", "settings")

    def __init__(self, data: bytes, settings: ParserSettings | None = None):
        self.data = data
        self.pos = 0
        self.length = len(data)
        self.settings = settings or DEFAULT_SETTINGS

    # --- B1: skipWS (PDFRawData.java:54-63) --------------------------
    def skip_ws(self) -> None:
        m = _WS_RE.match(self.data, self.pos)
        if m is not None:
            self.pos = m.end()

    # Skip whitespace *and* %-comments between tokens (the reference
    # handles comments at the parseObject dispatch, T10).
    def skip_ws_and_comments(self) -> None:
        # fast path: the dominant case between tokens is exactly one
        # space — skip it without a regex call
        d, p, n = self.data, self.pos, self.length
        if p < n and d[p] == 0x20:
            q = p + 1
            if q >= n or (d[q] not in WHITESPACE and d[q] != 0x25):
                self.pos = q
                return
        elif p >= n or (d[p] not in WHITESPACE and d[p] != 0x25):
            return
        m = _WS_COMMENTS_RE.match(d, p)
        if m is not None:
            self.pos = m.end()

    # --- B2: skipLine / readLine (PDFRawData.java:69-111) ------------
    def skip_line(self) -> None:
        d, n = self.data, self.length
        p = self.pos
        while p < n and d[p] not in (0x0A, 0x0D):
            p += 1
        if p < n and d[p] == 0x0D:
            p += 1
            if p < n and d[p] == 0x0A:
                p += 1
        elif p < n:  # LF
            p += 1
        self.pos = p

    def read_line(self) -> bytes:
        start = self.pos
        d, n = self.data, self.length
        p = start
        while p < n and d[p] not in (0x0A, 0x0D):
            p += 1
        line = d[start:p]
        self.pos = p
        self.skip_line_ending()
        return line

    def skip_line_ending(self) -> None:
        d, n = self.data, self.length
        p = self.pos
        if p < n and d[p] == 0x0D:
            p += 1
            if p < n and d[p] == 0x0A:
                p += 1
        elif p < n and d[p] == 0x0A:
            p += 1
        self.pos = p

    # --- B3: strict EOL after `stream` keyword (PDFRawData.java:113-131)
    def skip_crlf_or_lf(self) -> None:
        d, n = self.data, self.length
        p = self.pos
        if p < n and d[p] == 0x0D:
            p += 1
            if p < n and d[p] == 0x0A:
                p += 1
            # lone CR after `stream` is a syntax-compliance event
            else:
                self.settings.soft_syntax(False, "lone CR after 'stream' keyword")
        elif p < n and d[p] == 0x0A:
            p += 1
        self.pos = p

    # --- B4: fetchUInt (PDFRawData.java:134-165) ---------------------
    def fetch_uint(self) -> int:
        self.skip_ws()
        d, n = self.data, self.length
        p = self.pos
        start = p
        while p < n and 0x30 <= d[p] <= 0x39:
            p += 1
        if p == start:
            raise EParseError(f"expected unsigned int at offset {start}")
        self.pos = p
        return int(d[start:p])

    # --- B5: fetchBinaryUInt (PDFRawData.java:172-198) ---------------
    def fetch_binary_uint(self, width: int) -> int:
        if width < 1 or width > 4:
            raise EParseError(f"binary uint width {width} out of range")
        p = self.pos
        if p + width > self.length:
            raise EParseError("binary uint beyond end of data")
        self.pos = p + width
        return int.from_bytes(self.data[p : p + width], "big")

    # --- B6: checkSignature (PDFRawData.java:200-216) ----------------
    def check_signature(self, token: bytes, at: int | None = None) -> bool:
        p = self.pos if at is None else at
        return self.data.startswith(token, p)

    # --- B7: reverseScan (PDFRawData.java:218-243) -------------------
    def reverse_scan(self, from_pos: int, token: bytes, limit: int) -> int:
        """Scan backwards ≤limit bytes from from_pos for token; returns
        found position or -1. Used for %%EOF (limit 1024) and startxref
        (limit 100)."""
        lo = max(0, from_pos - limit)
        idx = self.data.rfind(token, lo, from_pos)
        return idx

    # --- B8: forward header scan (PDFParser.java:71-81) --------------
    def find_forward(self, token: bytes, limit: int) -> int:
        return self.data.find(token, 0, limit + len(token))

    # --- B9: readStream (PDFRawData.java:245-273) --------------------
    def read_stream_body(self, length: int) -> bytes:
        """Cursor sits just after the `stream` keyword's EOL. Copy
        `length` bytes, then bounded scan ≤MAX_SCAN_RANGE for
        `endstream`/`endobj` (ParserSettings.java:6)."""
        p = self.pos
        if length < 0 or p + length > self.length:
            raise EParseError("stream body beyond end of data")
        body = self.data[p : p + length]
        self.pos = p + length
        # bounded forward scan for endstream
        limit = self.pos + self.settings.max_scan_range
        idx = self.data.find(b"endstream", self.pos, limit + 9)
        if idx < 0:
            self.settings.soft_structure(False, "endstream not found within scan range")
        else:
            self.pos = idx + 9
        return body
