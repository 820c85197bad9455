"""Stream decode filters (SURVEY.md §2.5 F1-F7).

Registry semantics transcribed from ``filter/StreamDecoder.java``:
`/Filter` may be a single name or an array → chained in order
(:180-204); unsupported name → hard error (:194-195); abbreviated
names /Fl /AHx /A85 registered (:49-54); DCT/JPX/CCITT/JBIG2/Crypt are
pass-through identity (:57-64) — the origin of the ``kind='media'``
span semantics.

PNG predictors are vectorized with numpy (PNG-Up = per-row add chain =
cumsum mod 256 — the xref-stream hot path, SURVEY §4.2). The
reference's PNG-Average and RunLength literal-copy bugs
(StreamDecoder.java:270-275, :436) are in untested paths and rebuilt
spec-correct per SURVEY §5 policy.
"""

from __future__ import annotations

import zlib

import numpy as np

from .cos import CDict, COS_NULL, Name, Resolver
from .errors import EParseError

# ---------------------------------------------------------------------------
# F1: FlateDecode
# ---------------------------------------------------------------------------


def flate_decode(data: bytes) -> bytes:
    """zlib inflate (StreamDecoder.java:70-91,369-376)."""
    try:
        return zlib.decompress(data)
    except zlib.error:
        # tolerate trailing garbage / missing adler the way Inflater's
        # loop does: decompress what's available
        d = zlib.decompressobj()
        try:
            return d.decompress(data)
        except zlib.error as e:
            raise EParseError(f"FlateDecode failed: {e}") from e


def flate_encode(data: bytes, level: int = 1) -> bytes:
    """Generator-side deflate. Level 1: the synthetic payloads are
    decode-verified, never size-compared, and level 6 spent ~12% of
    the whole generation pass inside zlib for a few % smaller
    payloads; level 1 is still fully deterministic."""
    return zlib.compress(data, level)


# ---------------------------------------------------------------------------
# F2: Predictor post-pass (StreamDecoder.decodePredictor, :218-364)
# ---------------------------------------------------------------------------


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def predictor_decode(
    data: bytes, predictor: int, columns: int, colors: int = 1, bpc: int = 8
) -> bytes:
    """TIFF predictor 2 + PNG filters (per-row tag) 0/1/2/3/4.

    /DecodeParms {Predictor, Columns, Colors, BitsPerComponent}
    (StreamDecoder.java:218-364). PNG-Up (the xref-stream case in
    practice) is fully vectorized.
    """
    if predictor <= 1:
        return data
    bpp = max(1, (colors * bpc) // 8)
    row_len = (columns * colors * bpc + 7) // 8
    if not 0 < row_len <= len(data):  # not one whole row decodes
        return b""
    if predictor == 2:  # TIFF horizontal differencing
        if bpc != 8:
            raise EParseError("TIFF predictor requires 8 bpc in this engine")
        arr = np.frombuffer(data, dtype=np.uint8)
        nrows = len(arr) // row_len
        arr = arr[: nrows * row_len].reshape(nrows, row_len).copy()
        for x in range(bpp, row_len):
            arr[:, x] = (arr[:, x] + arr[:, x - bpp]) & 0xFF
        return arr.tobytes()
    # PNG predictors: each row prefixed by 1 filter-type byte
    stride = row_len + 1
    nrows = len(data) // stride
    # all-Up fast path (the xref-stream shape): columnwise mod-256
    # cumsum. Measured crossover vs the byte loop is ~5 rows, so only
    # the very smallest tables stay on pure bytes; a uint8 accumulator
    # wraps mod 256 itself (4x faster than int64 + mask on 1024x3072).
    if 4 < nrows and data[: nrows * stride : stride].count(2) == nrows:
        raw = np.frombuffer(data, dtype=np.uint8)[: nrows * stride]
        return np.cumsum(
            raw.reshape(nrows, stride)[:, 1:], axis=0, dtype=np.uint8
        ).tobytes()
    if 0 < nrows <= 4 and data[: nrows * stride : stride].count(2) == nrows:
        out_b = bytearray(nrows * row_len)
        prev_row = bytes(row_len)
        w = 0
        for i in range(nrows):
            o = i * stride + 1
            cur = bytes(
                (a + b) & 0xFF for a, b in zip(data[o : o + row_len], prev_row)
            )
            out_b[w : w + row_len] = cur
            prev_row = cur
            w += row_len
        return bytes(out_b)
    raw = np.frombuffer(data, dtype=np.uint8)[: nrows * stride].reshape(nrows, stride)
    tags = raw[:, 0]
    rows = raw[:, 1:].astype(np.int16)
    out = np.zeros((nrows, row_len), dtype=np.uint8)
    prev = np.zeros(row_len, dtype=np.int16)
    for i in range(nrows):
        t = tags[i]
        cur = rows[i].copy()
        if t == 0:  # None
            res = cur & 0xFF
        elif t == 1:  # Sub = per-lane prefix sum mod 256
            res = cur
            for c0 in range(min(bpp, row_len)):
                res[c0::bpp] = np.cumsum(cur[c0::bpp], dtype=np.int64) & 0xFF
        elif t == 2:  # Up
            res = (cur + prev) & 0xFF
        elif t == 3:  # Average
            res = cur
            for x in range(row_len):
                left = int(res[x - bpp]) if x >= bpp else 0
                up = int(prev[x])
                res[x] = (res[x] + ((left + up) >> 1)) & 0xFF
        elif t == 4:  # Paeth
            res = cur
            for x in range(row_len):
                left = int(res[x - bpp]) if x >= bpp else 0
                up = int(prev[x])
                ul = int(prev[x - bpp]) if x >= bpp else 0
                res[x] = (res[x] + _paeth(left, up, ul)) & 0xFF
        else:
            raise EParseError(f"unknown PNG filter type {t}")
        out[i] = res.astype(np.uint8)
        prev = res.astype(np.int16)
    return out.tobytes()


def predictor_encode_up(data: bytes, columns: int) -> bytes:
    """Generator path: PNG-Up (type 2) encode — what real writers emit
    for xref streams (Predictor 12)."""
    row_len = columns
    arr = np.frombuffer(data, dtype=np.uint8)
    nrows = len(arr) // row_len
    rows = arr[: nrows * row_len].reshape(nrows, row_len).astype(np.int16)
    diffs = rows.copy()
    diffs[1:] = (rows[1:] - rows[:-1]) & 0xFF
    out = np.zeros((nrows, row_len + 1), dtype=np.uint8)
    out[:, 0] = 2
    out[:, 1:] = diffs.astype(np.uint8)
    return out.tobytes()


# ---------------------------------------------------------------------------
# F3: LZWDecode (filter/LZWDecoder.java:54-240)
# ---------------------------------------------------------------------------


def _load_ctok_lzw(name: str):
    try:
        from .cos import _CTOK

        if _CTOK is not None:
            return getattr(_CTOK, name, None)
    except Exception:  # pragma: no cover - env without gcc
        pass
    return None


_CTOK_LZW = _load_ctok_lzw("lzw_decode")
_CTOK_LZW_ENC = _load_ctok_lzw("lzw_encode")


def lzw_decode(data: bytes) -> bytes:
    """9→12-bit variable codes; clear=256, EOD=257; early table growth
    at 511/1023/2047; missing EOD tolerated. C fast path when the
    extension is available (differential parity in test_ctok_parity)."""
    if _CTOK_LZW is not None and data.__class__ is bytes:
        return _CTOK_LZW(data)
    return _lzw_decode_py(data)


def _lzw_decode_py(data: bytes) -> bytes:
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    code_len = 9
    prev: bytes | None = None
    acc = 0
    nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= code_len:
            nbits -= code_len
            code = (acc >> nbits) & ((1 << code_len) - 1)
            if code == 256:  # clear
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                code_len = 9
                prev = None
                continue
            if code == 257:  # EOD
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    raise EParseError(f"LZW code {code} not in table")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            else:
                entry = prev + prev[:1]
                table.append(entry)
            out += entry
            prev = entry
            # early growth: width bumps when table hits 511/1023/2047
            if len(table) + 1 >= (1 << code_len) and code_len < 12:
                code_len += 1
    return bytes(out)  # missing EOD tolerated (LZWDecoder.java behavior)


def lzw_encode(data: bytes) -> bytes:
    """Generator-side LZW (early-change) so the decode path is testable
    on round trips. C fast path when the extension is available
    (differential parity in test_ctok_parity)."""
    if _CTOK_LZW_ENC is not None and data.__class__ is bytes:
        return _CTOK_LZW_ENC(data)
    return _lzw_encode_py(data)


def _lzw_encode_py(data: bytes) -> bytes:
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    code_len = 9
    acc = 0
    nbits = 0
    out = bytearray()

    def emit(code: int):
        nonlocal acc, nbits
        acc = (acc << code_len) | code
        nbits += code_len
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)

    emit(256)  # clear
    w = b""
    for byte in data:
        c = bytes([byte])
        if w + c in table:
            w = w + c
        else:
            emit(table[w])
            table[w + c] = next_code
            next_code += 1
            # early-change lockstep: the decoder (which lags one table
            # entry behind) widens before reading the code emitted when
            # next_code first reaches 2^len
            if next_code >= (1 << code_len):
                if code_len < 12:
                    code_len += 1
                else:  # table full at 12 bits → clear and restart
                    emit(256)
                    table = {bytes([i]): i for i in range(256)}
                    next_code = 258
                    code_len = 9
            w = c
    if w:
        emit(table[w])
    emit(257)  # EOD
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


# ---------------------------------------------------------------------------
# F4: ASCII85 (StreamDecoder.java:127-178)
# ---------------------------------------------------------------------------


_A85_WS = bytes(b" \t\r\n\x0c\x00")


def _a85_decode_loop(data: bytes) -> bytes:
    """Reference per-byte loop — kept as the 'z'-bearing / oddball
    path and as the semantics authority for the vectorized twin."""
    out = bytearray()
    chunk: list[int] = []
    for b in data:
        if b in b" \t\r\n\x0c\x00":
            continue
        if b == 0x7E:  # '~' EOD
            break
        if b == 0x7A and not chunk:  # 'z'
            out += b"\x00\x00\x00\x00"
            continue
        if not (0x21 <= b <= 0x75):
            raise EParseError(f"invalid ascii85 byte {b:#x}")
        chunk.append(b - 0x21)
        if len(chunk) == 5:
            val = 0
            for c in chunk:
                val = val * 85 + c
            if val > 0xFFFFFFFF:
                raise EParseError("ascii85 group overflow")
            out += val.to_bytes(4, "big")
            chunk = []
    if chunk:
        if len(chunk) == 1:
            raise EParseError("ascii85: single trailing char")
        k = len(chunk)
        chunk += [84] * (5 - k)
        val = 0
        for c in chunk:
            val = val * 85 + c
        if val > 0xFFFFFFFF:
            raise EParseError("ascii85 group overflow")
        out += val.to_bytes(4, "big")[: k - 1]
    return bytes(out)


_P85 = None  # lazy [85^4, 85^3, 85^2, 85, 1] int64


def a85_decode(data: bytes) -> bytes:
    """5 chars→4 bytes; 'z'→4 zeros; '~' EOD; partial tail padded with
    'u'-equivalent (iText-style pad with 84) — transcribed semantics.
    Hot path: ws-strip via translate + numpy group math ('z'-bearing
    input falls back to the per-byte loop with identical results)."""
    i = data.find(b"~")
    if i >= 0:
        data = data[:i]
    data = data.translate(None, _A85_WS)
    if b"z" in data or len(data) < 10:
        return _a85_decode_loop(data)
    import numpy as np

    global _P85
    if _P85 is None:
        _P85 = (85 ** np.arange(4, -1, -1)).astype(np.int64)
    arr = np.frombuffer(data, dtype=np.uint8) - 0x21
    k5 = len(arr) // 5
    vals = arr[: k5 * 5].reshape(-1, 5).astype(np.int64) @ _P85
    bad = np.nonzero(arr > 84)[0]
    ovf = np.nonzero(vals > 0xFFFFFFFF)[0]
    if bad.size or ovf.size:
        # the per-byte loop raises whichever error comes FIRST in
        # stream order: an invalid byte fires at its own index, a
        # chunk overflow fires when its 5th char lands (index 5j+4)
        bad0 = int(bad[0]) if bad.size else None
        ovf0 = int(ovf[0]) if ovf.size else None
        if ovf0 is not None and (bad0 is None or 5 * ovf0 + 4 < bad0):
            raise EParseError("ascii85 group overflow")
        raise EParseError(f"invalid ascii85 byte {data[bad0]:#x}")
    out = vals.astype(">u4").tobytes()
    tail = arr[k5 * 5 :]
    if tail.size:
        if tail.size == 1:
            raise EParseError("ascii85: single trailing char")
        chunk = list(map(int, tail)) + [84] * (5 - tail.size)
        val = 0
        for c in chunk:
            val = val * 85 + c
        if val > 0xFFFFFFFF:
            raise EParseError("ascii85 group overflow")
        out += val.to_bytes(4, "big")[: tail.size - 1]
    return out


def _a85_encode_loop(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 4):
        block = data[i : i + 4]
        k = len(block)
        val = int.from_bytes(block + b"\x00" * (4 - k), "big")
        digits = []
        for _ in range(5):
            digits.append(val % 85)
            val //= 85
        digits.reverse()
        if k == 4 and all(d == 0 for d in digits):
            out += b"z"
        else:
            out += bytes(d + 0x21 for d in digits[: k + 1])
    out += b"~>"
    return bytes(out)


def a85_encode(data: bytes) -> bytes:
    """Vectorized ASCII85 encode (byte-identical to the loop twin);
    'z'-block-bearing input falls back to the loop — rare for real
    payloads, and the loop remains the semantics authority."""
    n = len(data)
    if n < 16:
        return _a85_encode_loop(data)
    pad = (-n) % 4
    vals = np.frombuffer(data + b"\x00" * pad, dtype=">u4").astype(np.int64)
    full = len(vals) - (1 if pad else 0)
    if (vals[:full] == 0).any():
        return _a85_encode_loop(data)  # 'z' shortcut blocks present
    digits = np.empty((len(vals), 5), dtype=np.uint8)
    v = vals.copy()
    for j in range(4, -1, -1):
        digits[:, j] = (v % 85) + 0x21
        v //= 85
    out = digits[:full].tobytes()
    if pad:
        k = 4 - pad
        out += digits[full, : k + 1].tobytes()
    return out + b"~>"


# ---------------------------------------------------------------------------
# F5: ASCIIHex (StreamDecoder.java:112-119)
# ---------------------------------------------------------------------------

_HEXSET = set(b"0123456789abcdefABCDEF")


def ahx_decode(data: bytes) -> bytes:
    end = data.find(b">")
    if end >= 0:
        data = data[:end]
    cleaned = data.translate(None, _A85_WS)  # C-level ws delete
    if len(cleaned) % 2:
        cleaned += b"0"
    try:
        return bytes.fromhex(cleaned.decode("ascii"))
    except (ValueError, UnicodeDecodeError):
        # slow path only to produce the typed first-offender error
        for b in cleaned:
            if b not in _HEXSET:
                raise EParseError(f"invalid hex byte {b:#x}") from None
        raise EParseError("invalid hex data") from None


def ahx_encode(data: bytes) -> bytes:
    return data.hex().encode("ascii") + b">"


# ---------------------------------------------------------------------------
# F6: RunLength (StreamDecoder.java:423-449)
# ---------------------------------------------------------------------------


def rl_decode(data: bytes) -> bytes:
    """len<128 → copy len+1 literals; len>128 → repeat next byte
    257-len; 128 EOD. (Reference copies literals from the count byte's
    own index — off-by-one at :436, untested; spec-correct here.)"""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        l = data[i]
        if l == 128:
            break
        if l < 128:
            cnt = l + 1
            if i + 1 + cnt > n:
                raise EParseError("RunLength literal run beyond end")
            out += data[i + 1 : i + 1 + cnt]
            i += 1 + cnt
        else:
            if i + 1 >= n:
                raise EParseError("RunLength repeat run beyond end")
            out += bytes([data[i + 1]]) * (257 - l)
            i += 2
    return bytes(out)


def _rl_encode_py(data: bytes) -> bytes:
    """Reference byte-at-a-time RunLength encoder — the authoritative
    semantics the vectorized path below must match byte-for-byte
    (differential-pinned in tests/test_filters.py)."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 2:
            out += bytes([257 - run, data[i]])
            i += run
        else:
            j = i + 1
            while (
                j < n
                and j - i < 128
                and not (j + 1 < n and data[j] == data[j + 1])
            ):
                j += 1
            out += bytes([j - i - 1]) + data[i:j]
            i = j
    out.append(128)
    return bytes(out)


def rl_encode(data: bytes) -> bytes:
    """RunLength encode (r8 vectorized): one numpy boundary scan
    finds the equal-byte groups, the Python loop then walks only the
    REPLICATE groups (length >= 2 — rare in text-like content where
    the old encoder burned ~350us/KB walking every byte), emitting
    the literal spans between them in 128-byte chunks. Group
    chunking mirrors the reference loop exactly: runs cap at 128, a
    128k+1-length group leaves its final byte to the following
    literal span, and literal spans never contain two adjacent equal
    bytes (so the 128-cap re-entry always continues a literal — the
    property that makes straight chunking correct). Small inputs
    keep the loop (numpy's fixed per-call cost dominates under
    ~256 bytes)."""
    n = len(data)
    if n < 256:
        return _rl_encode_py(data)
    import numpy as np

    a = np.frombuffer(data, dtype=np.uint8)
    starts = np.flatnonzero(np.concatenate(([True], a[1:] != a[:-1])))
    lengths = np.diff(np.append(starts, n))
    rep = np.flatnonzero(lengths >= 2)
    out = bytearray()

    def _literal(s: int, e: int) -> None:
        for c0 in range(s, e, 128):
            c1 = min(c0 + 128, e)
            out.append(c1 - c0 - 1)
            out.extend(data[c0:c1])

    pos = 0  # next byte not yet emitted
    for g in rep.tolist():
        gs, gl = int(starts[g]), int(lengths[g])
        q, r = divmod(gl, 128)
        # the replicate chunks cover all but a trailing single when
        # gl % 128 == 1 (that byte joins the following literal span)
        cover = gl - 1 if r == 1 else gl
        if gs > pos:
            _literal(pos, gs)
        b = data[gs]
        for _ in range(q):
            out += bytes((129, b))  # 257 - 128
        r_cov = cover - q * 128
        if r_cov:
            out += bytes((257 - r_cov, b))
        pos = gs + cover
    if pos < n:
        _literal(pos, n)
    out.append(128)
    return bytes(out)


# ---------------------------------------------------------------------------
# Registry + chain (StreamDecoder.java:44-67, 180-204)
# ---------------------------------------------------------------------------

PASS_THROUGH = {"DCTDecode", "DCT", "JPXDecode", "CCITTFaxDecode", "CCF", "JBIG2Decode", "Crypt"}

_DECODERS = {
    "FlateDecode": flate_decode,
    "Fl": flate_decode,
    "LZWDecode": lzw_decode,
    "LZW": lzw_decode,
    "ASCII85Decode": a85_decode,
    "A85": a85_decode,
    "ASCIIHexDecode": ahx_decode,
    "AHx": ahx_decode,
    "RunLengthDecode": rl_decode,
    "RL": rl_decode,
}


def decode_stream(data: bytes, sdict: CDict, resolver: Resolver | None = None) -> bytes:
    """Apply the `/Filter` chain in order with per-filter
    `/DecodeParms` (StreamDecoder.java:180-204). Pass-through codecs
    return data unchanged (Filter_DoNothing, :57-64). Unsupported
    filter name → EParseError (:194-195)."""
    # single direct /FlateDecode with no predictor keys — the
    # overwhelmingly common real-corpus stream shape — skips the
    # chain machinery (r7; semantics identical to the loop below)
    filt = sdict.get("Filter", COS_NULL)
    if (
        filt.__class__ is Name
        and filt == "FlateDecode"
        and "DecodeParms" not in sdict
        and "DP" not in sdict
    ):
        return flate_decode(data)
    filt = sdict.deref(filt, resolver)
    if filt is COS_NULL:
        return data
    filters = [filt] if isinstance(filt, Name) else list(filt)
    parms = sdict.deref(sdict.get("DecodeParms", sdict.get("DP", COS_NULL)), resolver)
    if isinstance(parms, CDict) or parms is COS_NULL:
        parms_list = [parms] * len(filters)
    else:
        parms_list = list(parms) + [COS_NULL] * (len(filters) - len(parms))
    for f, pm in zip(filters, parms_list):
        fname = str(f)
        if fname in PASS_THROUGH:
            continue
        dec = _DECODERS.get(fname)
        if dec is None:
            raise EParseError(f"unsupported filter /{fname}")
        data = dec(data)
        pm = sdict.deref(pm, resolver) if pm is not COS_NULL else pm
        if isinstance(pm, CDict):
            pred = pm.get_int("Predictor", 1, resolver)
            if pred > 1:
                data = predictor_decode(
                    data,
                    pred,
                    pm.get_int("Columns", 1, resolver),
                    pm.get_int("Colors", 1, resolver),
                    pm.get_int("BitsPerComponent", 8, resolver),
                )
    return data
