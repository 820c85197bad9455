"""Multimodal column plumbing: opaque binary media + typed metadata
(task brief: decode / feature-extract / resize / frame-sample as
vectorized stages over binary columns).

Decode status (r5): ``decode_image_real`` REALLY decodes every image
format in the rotation — BMP (BI_RGB), PNG (stdlib zlib +
unfiltering), GIF (pure GIF-LZW), TIFF (baseline none/LZW), baseline
JPEG (SOF0: canonical Huffman entropy decode, dequant, IDCT,
fixed-point YCbCr→RGB — pure numpy, no codec library), PGM/PPM, PCM
WAV — with struct parsing and numpy pixel/sample statistics; the
`media_decode_real` (BMP/PNG/GIF/TIFF/JPEG rotation) and
`media_audio_meta` (WAV) driver queries run that path end-to-end
against closed-form oracles. r6 closes the last stub: AVI video
(uncompressed DIB and MJPEG frames) decodes to real per-frame
pixels via `_avi_decode` — the multimodal triad (image/audio/video)
is fully real. r7 adds progressive JPEG (SOF2 multi-scan), r8 adds
chroma-subsampled frames (4:2:0/4:2:2 — general sampling-factor MCU
geometry); exotic frame types (arithmetic, lossless, hierarchical)
fall back to header-only dims; codecs beyond DIB/MJPEG (H.264…)
genuinely need libraries absent from this container, and
``_fake_decode`` (deterministic metadata from the payload's embedded
digest) stands in for them — swapping it for PIL/ffmpeg on a real
cluster is the documented one-function change. Everything Spark-side
is REAL either way: binary column schema, Arrow batch transfer,
per-batch shaping, typed-metadata output.

The media payloads are the generator's pass-through DCT stubs
(codec._media_stub_bytes — F7 Filter_DoNothing semantics): a JPEG
SOI/APP0 magic, 4× the md5 of the media_ref, EOI. Deterministic in
media_ref → the whole pipeline has a DuckDB oracle via md5() SQL.
"""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..codec import _media_stub_bytes
from ..engine import per_doc

MEDIA_BYTES_SCHEMA = "doc_id bigint, media_ref string, payload binary"
_MEDIA_REF_COLS = ("doc_id", "media_ref")
_MEDIA_BYTES_COLS = ("doc_id", "media_ref", "payload")
MEDIA_META_SCHEMA = (
    "doc_id bigint, media_ref string, fmt string, width int, height int, "
    "n_bytes int, thumb_w int, thumb_h int"
)


def decode_image_real(payload: bytes) -> dict:
    """REAL decode for formats that need no codec library (r4-r5):
    BMP (BI_RGB 24-bit), PNG (stdlib zlib + scanline unfiltering),
    GIF (pure GIF-LZW), TIFF (baseline none/LZW + predictor),
    JPEG (SOF0/SOF1 baseline + SOF2 progressive, any integer-ratio
    sampling incl. 4:2:0 — full entropy decode + IDCT in pure numpy;
    unsupported frame types fall back to SOF header dims),
    PGM/PPM (P5/P6 binary), WAV (PCM), AVI video (uncompressed DIB +
    MJPEG frames, r6) — struct + numpy + zlib only.  Returns typed
    metadata + integer channel/sample statistics (per-frame for
    video).  Codecs beyond these (H.264…) raise NotImplementedError —
    they genuinely need libraries absent from this container; on a
    production cluster that is the documented one-function ffmpeg
    swap."""
    import struct

    import numpy as np

    if payload[:2] == b"BM" and len(payload) >= 54:
        off, = struct.unpack_from("<I", payload, 10)
        hsz, w, h = struct.unpack_from("<Iii", payload, 14)
        planes, bpp = struct.unpack_from("<HH", payload, 26)
        comp, = struct.unpack_from("<I", payload, 30)
        if hsz < 40 or comp != 0 or bpp != 24:
            raise NotImplementedError("BMP variant beyond BI_RGB 24-bit")
        bottom_up = h > 0
        h = abs(h)
        stride = (w * 3 + 3) & ~3
        px = np.frombuffer(
            payload, dtype=np.uint8, count=stride * h, offset=off
        ).reshape(h, stride)[:, : w * 3]
        if bottom_up:
            px = px[::-1]
        bgr = px.reshape(h, w, 3).astype(np.int64)
        n = w * h
        return {
            "fmt": "bmp", "width": w, "height": h, "n_bytes": len(payload),
            # integer-exact channel means (floor) — oracle-friendly
            "mean_r": int(bgr[:, :, 2].sum() // n),
            "mean_g": int(bgr[:, :, 1].sum() // n),
            "mean_b": int(bgr[:, :, 0].sum() // n),
        }
    if payload[:2] in (b"P5", b"P6"):
        toks: list[bytes] = []
        i = 2
        while len(toks) < 3 and i < len(payload):
            while i < len(payload) and payload[i : i + 1].isspace():
                i += 1
            if payload[i : i + 1] == b"#":  # comment line
                j = payload.find(b"\n", i)
                i = len(payload) if j < 0 else j + 1
                continue
            j = i
            while j < len(payload) and not payload[j : j + 1].isspace():
                j += 1
            toks.append(payload[i:j])
            i = j
        w, h, maxv = (int(t) for t in toks)
        i += 1  # single whitespace after maxval
        ch = 1 if payload[:2] == b"P5" else 3
        px = np.frombuffer(payload, dtype=np.uint8, count=w * h * ch, offset=i)
        means = px.reshape(-1, ch).astype(np.int64).sum(axis=0) // (w * h)
        out = {
            "fmt": "pgm" if ch == 1 else "ppm",
            "width": w, "height": h, "n_bytes": len(payload),
        }
        if ch == 1:
            out["mean_r"] = out["mean_g"] = out["mean_b"] = int(means[0])
        else:
            out["mean_r"], out["mean_g"], out["mean_b"] = map(int, means)
        return out
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return _png_decode(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return _gif_decode(payload)
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        return _tiff_decode(payload)
    if payload[:2] == b"\xff\xd8":
        # JPEG (r5): REAL baseline pixel decode — marker walk, DQT/DHT
        # tables, canonical Huffman entropy decode, dequant, IDCT,
        # fixed-point YCbCr→RGB.  Non-baseline frames (progressive,
        # subsampled, arithmetic) AND structurally broken ones
        # (missing tables, truncated segments — KeyError/IndexError/
        # struct.error territory) fall back to header-only dims, so
        # one malformed file can never take down a permissive batch.
        try:
            return _jpeg_decode(payload)
        except (NotImplementedError, KeyError, IndexError, ValueError,
                struct.error):
            return _jpeg_header_decode(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        return _avi_decode(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        i = 12
        fmt_info = None
        data_view = None
        while i + 8 <= len(payload):
            cid = payload[i : i + 4]
            sz, = struct.unpack_from("<I", payload, i + 4)
            if cid == b"fmt ":
                audio_fmt, nch, rate = struct.unpack_from("<HHI", payload, i + 8)
                bits, = struct.unpack_from("<H", payload, i + 22)
                fmt_info = (audio_fmt, nch, rate, bits)
            elif cid == b"data":
                data_view = payload[i + 8 : i + 8 + sz]
            i += 8 + sz + (sz & 1)
        if fmt_info is None or data_view is None or fmt_info[0] != 1:
            raise NotImplementedError("WAV variant beyond PCM")
        _, nch, rate, bits = fmt_info
        if bits == 16:
            samples = np.frombuffer(
                data_view, dtype="<i2", count=len(data_view) // 2
            ).astype(np.int64)
        elif bits == 8:
            samples = np.frombuffer(data_view, dtype=np.uint8).astype(np.int64) - 128
        else:
            raise NotImplementedError(f"{bits}-bit WAV")
        return {
            "fmt": "wav", "width": 0, "height": 0, "n_bytes": len(payload),
            "sample_rate": rate, "n_channels": nch,
            "n_samples": len(samples) // max(nch, 1),
            "peak": int(np.abs(samples).max(initial=0)),
        }
    raise NotImplementedError(
        "codec-format decode (JPEG/H.264/…) needs image/audio libraries "
        "unavailable in this environment; use _fake_decode "
        "(deterministic) for tests/benchmarks"
    )


def _png_decode(payload: bytes) -> dict:
    """REAL PNG decode — zlib is stdlib, so inflate + scanline
    unfiltering need no codec library. 8-bit depth, no interlace;
    gray/RGB (±alpha) color types; all five filter types, unfiltered
    by the kernel's PNG predictor. Alpha is excluded from the channel
    means."""
    import struct
    import zlib

    import numpy as np

    from ..kernel.filters import predictor_decode

    i = 8
    ihdr = None
    idat: list[bytes] = []
    while i + 8 <= len(payload):
        ln, typ = struct.unpack_from(">I4s", payload, i)
        chunk = payload[i + 8 : i + 8 + ln]
        if typ == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", chunk)
        elif typ == b"IDAT":
            idat.append(chunk)
        elif typ == b"IEND":
            break
        i += 12 + ln
    if ihdr is None or not idat:
        raise NotImplementedError("malformed PNG (no IHDR/IDAT)")
    w, h, bitd, ctype, comp, filt, interlace = ihdr
    if bitd != 8 or interlace != 0 or comp != 0 or ctype not in (0, 2, 4, 6):
        raise NotImplementedError(
            f"PNG variant beyond 8-bit non-interlaced (depth {bitd}, "
            f"color {ctype})"
        )
    ch = {0: 1, 2: 3, 4: 2, 6: 4}[ctype]
    raw = zlib.decompress(b"".join(idat))
    row = w * ch + 1  # filter-type byte + scanline
    if len(raw) < h * row:
        raise NotImplementedError("PNG data shorter than geometry")
    raw = raw[: h * row]
    ft = max(raw[::row], default=0)
    if ft > 4:  # not EParseError: per_doc would drop the document's row
        raise NotImplementedError(f"PNG filter type {ft}")
    # PNG's five filter types are PDF's Predictor >= 10 set
    # (ISO 32000-1 §7.4.4.4): the kernel's unfilter decodes them
    img = np.frombuffer(predictor_decode(raw, 15, w, ch, 8), np.uint8)
    n = w * h
    px = img.reshape(h, w, ch)
    color_ch = 1 if ctype in (0, 4) else 3
    means = [int(px[:, :, k].sum() // n) for k in range(color_ch)]
    out = {
        "fmt": "png", "width": w, "height": h, "n_bytes": len(payload),
    }
    if color_ch == 1:
        out["mean_r"] = out["mean_g"] = out["mean_b"] = means[0]
    else:
        out["mean_r"], out["mean_g"], out["mean_b"] = means
    return out


def _gif_decode(payload: bytes) -> dict:
    """REAL GIF decode — LZW is pure arithmetic, so no codec library:
    logical-screen + palette parsing, extension skipping, sub-block
    reassembly, LSB-first variable-width GIF-LZW (clear/EOD, width
    grows at 2^w — NOT the PDF/TIFF early change), interlace row
    permutation; first frame only, means over the palette-mapped
    pixels."""
    import struct

    import numpy as np

    w, h, packed, _bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
    i = 13
    gct = None
    if packed & 0x80:
        n_colors = 2 << (packed & 0x07)
        gct = np.frombuffer(
            payload, np.uint8, n_colors * 3, i
        ).reshape(-1, 3)
        i += n_colors * 3
    while i < len(payload):
        introducer = payload[i]
        if introducer == 0x21:  # extension: label + sub-blocks
            i += 2
            while i < len(payload) and payload[i] != 0:
                i += 1 + payload[i]
            i += 1
        elif introducer == 0x2C:  # image descriptor
            _l, _t, iw, ih, ipacked = struct.unpack_from("<HHHHB", payload, i + 1)
            i += 10
            pal = gct
            if ipacked & 0x80:  # local color table
                n_colors = 2 << (ipacked & 0x07)
                pal = np.frombuffer(
                    payload, np.uint8, n_colors * 3, i
                ).reshape(-1, 3)
                i += n_colors * 3
            interlaced = bool(ipacked & 0x40)
            if pal is None:
                raise NotImplementedError("GIF without any color table")
            min_code = payload[i]
            i += 1
            blocks = []
            while i < len(payload) and payload[i] != 0:
                ln = payload[i]
                blocks.append(payload[i + 1 : i + 1 + ln])
                i += 1 + ln
            data = b"".join(blocks)
            idx = _gif_lzw_decode(data, min_code, iw * ih)
            px = pal[np.clip(np.array(idx, dtype=np.int64), 0, len(pal) - 1)]
            if interlaced:
                order = (
                    list(range(0, ih, 8)) + list(range(4, ih, 8))
                    + list(range(2, ih, 4)) + list(range(1, ih, 2))
                )
                img = np.empty((ih, iw, 3), np.uint8)
                img[order] = px[: iw * ih].reshape(ih, iw, 3)
                px = img.reshape(-1, 3)
            n = iw * ih
            sums = px[:n].astype(np.int64).sum(axis=0)
            return {
                "fmt": "gif", "width": iw, "height": ih,
                "n_bytes": len(payload),
                "mean_r": int(sums[0] // n), "mean_g": int(sums[1] // n),
                "mean_b": int(sums[2] // n),
            }
        elif introducer == 0x3B:  # trailer
            break
        else:
            raise NotImplementedError(f"GIF block {introducer:#x}")
    raise NotImplementedError("GIF without an image frame")


def _gif_lzw_decode(data: bytes, min_code: int, max_pixels: int) -> list:
    """GIF-flavor LZW: LSB-first bit packing, clear = 2^N,
    EOD = 2^N+1, width grows WHEN next_code reaches 2^width (cap 12).
    Returns the index stream (clamped to max_pixels)."""
    clear = 1 << min_code
    eod = clear + 1
    table: list[tuple] = [(c,) for c in range(clear)] + [(), ()]
    width = min_code + 1
    out: list = []
    prev = None
    acc = 0
    nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = [(c,) for c in range(clear)] + [(), ()]
                width = min_code + 1
                prev = None
                continue
            if code == eod:
                return out[:max_pixels]
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            else:
                entry = prev + prev[:1]
                table.append(entry)
            out.extend(entry)
            if len(out) >= max_pixels:
                return out[:max_pixels]
            prev = entry
            if len(table) >= (1 << width) and width < 12:
                width += 1
    return out[:max_pixels]


def _tiff_decode(payload: bytes) -> dict:
    """REAL baseline-TIFF decode: IFD walk (both endiannesses),
    strip assembly, Compression 1 (none), 5 (TIFF-LZW — the SAME
    MSB early-change algorithm as PDF LZWDecode, so the existing
    decoder serves) and 32773 (PackBits, r8 — byte-identical to PDF
    RunLengthDecode except 0x80 is a no-op filler instead of EOD;
    rl_decode stops there, which for whole-strip data is the same
    result), horizontal-differencing predictor, 8-bit gray/RGB;
    integer channel means. Exotic variants raise."""
    import struct

    import numpy as np

    from ..kernel.filters import lzw_decode, rl_decode

    bo = "<" if payload[:2] == b"II" else ">"
    (ifd_off,) = struct.unpack_from(bo + "I", payload, 4)
    (n_entries,) = struct.unpack_from(bo + "H", payload, ifd_off)
    tags: dict[int, list] = {}
    type_fmt = {1: "B", 3: "H", 4: "I"}
    type_size = {1: 1, 3: 2, 4: 4}
    for k in range(n_entries):
        off = ifd_off + 2 + k * 12
        tag, typ, cnt = struct.unpack_from(bo + "HHI", payload, off)
        if typ not in type_fmt:
            continue
        total = type_size[typ] * cnt
        if total <= 4:
            vals = struct.unpack_from(bo + type_fmt[typ] * cnt, payload, off + 8)
        else:
            (voff,) = struct.unpack_from(bo + "I", payload, off + 8)
            vals = struct.unpack_from(bo + type_fmt[typ] * cnt, payload, voff)
        tags[tag] = list(vals)
    try:
        w = tags[256][0]
        h = tags[257][0]
        offs = tags[273]
        counts = tags[279]
    except KeyError:
        raise NotImplementedError("TIFF missing required tags") from None
    comp = tags.get(259, [1])[0]
    spp = tags.get(277, [1])[0]
    bits = tags.get(258, [8])[0]
    pred = tags.get(317, [1])[0]
    if (
        bits != 8
        or spp not in (1, 3)
        or comp not in (1, 5, 32773)
        or pred not in (1, 2)
    ):
        raise NotImplementedError(
            f"TIFF variant beyond 8-bit gray/RGB none/LZW/PackBits "
            f"(bits {bits}, spp {spp}, comp {comp}, pred {pred})"
        )
    raw = b"".join(payload[o : o + c] for o, c in zip(offs, counts))
    if comp == 5:
        raw = lzw_decode(raw)
    elif comp == 32773:
        raw = rl_decode(raw)
    if len(raw) < w * h * spp:
        raise NotImplementedError("TIFF data shorter than geometry")
    px = np.frombuffer(raw, np.uint8, w * h * spp).astype(np.int64)
    px = px.reshape(h, w, spp)
    if pred == 2:  # horizontal differencing: prefix sum per row/channel
        px = np.cumsum(px, axis=1) % 256
    n = w * h
    means = [int(px[:, :, c].sum() // n) for c in range(spp)]
    out = {"fmt": "tiff", "width": w, "height": h, "n_bytes": len(payload)}
    if spp == 1:
        out["mean_r"] = out["mean_g"] = out["mean_b"] = means[0]
    else:
        out["mean_r"], out["mean_g"], out["mean_b"] = means
    return out


_JPEG_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)


def _jpeg_idct_basis():
    """The 8×8 DCT-III basis M[u,x] = C(u)/2·cos((2x+1)uπ/16); the
    spatial block is Mᵀ·S·M.  For a DC-only block the result is
    exactly S00/8 up to 2e-16 relative error — far inside the
    round-to-int margin, so solid-color blocks decode losslessly."""
    import numpy as np

    u = np.arange(8).reshape(8, 1)
    x = np.arange(8).reshape(1, 8)
    m = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
    m[0, :] *= 1 / np.sqrt(2.0)
    return m


class _JpegBitReader:
    """MSB-first reader over the entropy-coded scan with 0xFF00
    unstuffing; a real marker (FF xx, xx≠00) ends the scan."""

    def __init__(self, buf: bytes, pos: int) -> None:
        self.buf = buf
        self.pos = pos
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if not self.n:
            if self.pos >= len(self.buf):
                raise NotImplementedError("JPEG scan data truncated")
            byte = self.buf[self.pos]
            self.pos += 1
            if byte == 0xFF:
                nxt = self.buf[self.pos] if self.pos < len(self.buf) else None
                if nxt == 0x00:
                    self.pos += 1  # stuffed
                else:
                    raise NotImplementedError("JPEG scan data truncated")
            self.acc = byte
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def huff(self, table: dict) -> int:
        code, length = 0, 0
        while length < 16:
            code = (code << 1) | self.bit()
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise NotImplementedError("invalid JPEG Huffman code")

    def restart(self, expect: int) -> None:
        """Consume one RSTn marker at a restart boundary (T.81
        F.2.1.3.1, r8): discard the partial byte's pad bits, skip at
        most one stuffed FF 00 (a 1-fill pad byte) and any FF fill
        bytes (B.1.1.2) before the marker, verify the modulo-8
        sequence number, and resume bit reading after it.  Any other
        byte before the marker, or an out-of-sequence or missing
        marker, raises — the caller falls back to header dims, never
        emits silently-wrong pixels."""
        self.n = 0
        buf, p = self.buf, self.pos
        if buf[p : p + 2] == b"\xff\x00":
            p += 2
        while buf[p : p + 2] == b"\xff\xff":
            p += 1
        if p + 1 >= len(buf) or buf[p] != 0xFF or not (
            0xD0 <= buf[p + 1] <= 0xD7
        ):
            raise NotImplementedError("missing JPEG restart marker")
        if (buf[p + 1] & 7) != (expect & 7):
            raise NotImplementedError("JPEG restart marker out of sequence")
        self.pos = p + 2


def _jpeg_extend(v: int, cat: int) -> int:
    """T.81 F.2.2.1 EXTEND: additional bits → signed value."""
    return v if cat == 0 or v >= (1 << (cat - 1)) else v - (1 << cat) + 1


def _jpeg_decode(payload: bytes) -> dict:
    """REAL JPEG pixel decode in pure numpy: marker walk, DQT (8/16
    bit) + DHT canonical table build, entropy decode, dequant,
    de-zigzag, float IDCT, level shift, fixed-point YCbCr→RGB
    (codec._jpeg_rgb — the exact integer mirror the SQL oracle uses).

    Baseline (SOF0/SOF1) and PROGRESSIVE (SOF2, r7) frames share one
    multi-scan coefficient accumulator: DC first/refinement scans
    with successive approximation (T.81 G.1.2.1: arithmetic-shift
    point transform, refinement appends raw bits), per-component
    spectral-selection AC bands with EOBn run accounting (G.1.2.2),
    and AC refinement with correction bits (G.1.2.3).  A baseline
    scan is the degenerate case Ss=0/Se=63/Ah=Al=0.

    Sampling (r8): general per-component factors h_i×v_i (≤4, with
    integer upsampling ratios) — 4:4:4, 4:2:2 and the dominant
    real-world 4:2:0 all decode. Interleaved scans walk MCUs of
    8·hmax × 8·vmax pixels with h_i·v_i blocks per component per MCU
    (T.81 A.2.3); non-interleaved scans walk the component's OWN
    block grid ceil(cw/8)×ceil(ch/8), cw = ceil(w·h_i/hmax) (A.2.2).
    Subsampled chroma planes upsample by pixel replication. Restart
    intervals (r8, T.81 F.2.1.3.1): DRI sets the MCU interval for
    subsequent scans; at each boundary the reader byte-aligns,
    consumes the RSTn marker (sequence-checked modulo 8), and DC
    predictions + progressive EOB runs reset. Anything unsupported
    raises NotImplementedError and the caller falls back to header
    dims."""
    import struct

    import numpy as np

    from ..codec import _jpeg_rgb

    qtables: dict[int, list[int]] = {}
    htables: dict[tuple[int, int], dict] = {}
    frame = None
    # (order[cid...], sel{cid:(dc,ac)}, ss, se, ah, al, off, ri)
    scans = []
    ri_state = 0  # DRI applies to scans that FOLLOW it (B.2.4.4)
    i = 2
    while i + 2 <= len(payload):
        if payload[i] != 0xFF:
            raise NotImplementedError("JPEG marker stream desynced")
        marker = payload[i + 1]
        if marker in (0xD8, 0x01, 0xFF) or 0xD0 <= marker <= 0xD7:
            i += 2 if marker != 0xFF else 1
            continue
        if marker == 0xD9 or i + 4 > len(payload):
            break
        (seglen,) = struct.unpack_from(">H", payload, i + 2)
        body = payload[i + 4 : i + 2 + seglen]
        if marker == 0xDB:  # DQT — possibly several tables per segment
            j = 0
            while j < len(body):
                pq, tq = body[j] >> 4, body[j] & 0xF
                j += 1
                if pq:
                    vals = list(
                        struct.unpack_from(f">{64}H", body, j)
                    )
                    j += 128
                else:
                    vals = list(body[j : j + 64])
                    j += 64
                qtables[tq] = vals
        elif marker == 0xC4:  # DHT
            j = 0
            while j < len(body):
                cls, tid = body[j] >> 4, body[j] & 0xF
                bits = body[j + 1 : j + 17]
                nvals = sum(bits)
                vals = body[j + 17 : j + 17 + nvals]
                table, code, k = {}, 0, 0
                for length in range(1, 17):
                    for _ in range(bits[length - 1]):
                        table[(length, code)] = vals[k]
                        code += 1
                        k += 1
                    code <<= 1
                htables[(cls, tid)] = table
                j += 17 + nvals
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 prog
            prec, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise NotImplementedError("JPEG precision beyond 8-bit")
            comps = []
            for c in range(ncomp):
                cid, samp, tq = struct.unpack_from(">BBB", body, 6 + 3 * c)
                sh, sv = samp >> 4, samp & 0xF
                if not (1 <= sh <= 4 and 1 <= sv <= 4):
                    raise NotImplementedError("bad JPEG sampling factor")
                comps.append({"id": cid, "tq": tq, "h": sh, "v": sv})
            frame = (w, h, comps)
        elif 0xC3 <= marker <= 0xCF and marker != 0xC4 and marker != 0xC8:
            raise NotImplementedError("unsupported JPEG frame type")
        elif marker == 0xDD:
            (ri_state,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS — collect; entropy data follows
            ns = body[0]
            sel = {}
            order = []
            for c in range(ns):
                cid, tabs = body[1 + 2 * c], body[2 + 2 * c]
                sel[cid] = (tabs >> 4, tabs & 0xF)
                order.append(cid)
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ahal = body[3 + 2 * ns]
            data_off = i + 2 + seglen
            scans.append(
                (order, sel, ss, se, ahal >> 4, ahal & 0xF, data_off,
                 ri_state)
            )
            # skip entropy-coded data to the next true marker (RSTn
            # markers and the FF fill bytes before them live INSIDE
            # the entropy data — skip past them)
            j = data_off
            while j + 1 < len(payload):
                if (
                    payload[j] == 0xFF
                    and payload[j + 1] not in (0x00, 0xFF)
                    and not 0xD0 <= payload[j + 1] <= 0xD7
                ):
                    break
                j += 1
            i = j
            continue
        i += 2 + seglen
    if frame is None or not scans:
        raise NotImplementedError("JPEG without SOF + SOS")
    w, h, comps = frame
    if w == 0 or h == 0:
        raise NotImplementedError("degenerate JPEG geometry")
    if len(comps) not in (1, 3):
        raise NotImplementedError(f"{len(comps)}-component JPEG")

    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    for c in comps:
        c["cw"] = (w * c["h"] + hmax - 1) // hmax  # component pixels
        c["ch"] = (h * c["v"] + vmax - 1) // vmax
        c["bx"] = (c["cw"] + 7) // 8  # own (non-interleaved) grid
        c["by"] = (c["ch"] + 7) // 8
        c["pbx"] = mcux * c["h"]  # MCU-padded (interleaved) grid
        c["pby"] = mcuy * c["v"]
    cidx = {comp["id"]: ci for ci, comp in enumerate(comps)}
    # zigzag-order coefficient accumulator, per component per padded-
    # grid block (the padded grid is a superset of the own grid)
    coefs = [
        np.zeros((c["pby"] * c["pbx"], 64), dtype=np.int64) for c in comps
    ]

    def _own_blocks(c):
        """Non-interleaved raster order over the component's OWN grid,
        as padded-array indexes (T.81 A.2.2)."""
        for by in range(c["by"]):
            for bx in range(c["bx"]):
                yield by * c["pbx"] + bx

    for order, sel, ss, se, ah, al, off, ri in scans:
        rd = _JpegBitReader(payload, off)
        if ss == 0:
            # DC scan (baseline when se == 63: AC rides the same
            # block loop); interleaved in `order` (h·v blocks per
            # component per MCU) or the single component's own grid
            pred = {cid: 0 for cid in order}

            def _dc_block(cf, cid):
                dc_tid, ac_tid = sel[cid]
                if ah == 0:
                    cat = rd.huff(htables[(0, dc_tid)])
                    pred[cid] += _jpeg_extend(rd.bits(cat), cat)
                    cf[0] = pred[cid] << al
                elif rd.bit():
                    cf[0] |= 1 << al
                if se >= 1:  # baseline AC
                    k = 1
                    while k <= se:
                        sym = rd.huff(htables[(1, ac_tid)])
                        run, size = sym >> 4, sym & 0xF
                        if size == 0:
                            if run == 0:
                                break  # EOB
                            if run != 15:
                                # EOBn symbols are progressive-
                                # only (T.81 G.1.2.2); in a
                                # sequential scan they're corrupt
                                # data -> header-dims fallback,
                                # never silent wrong pixels
                                raise NotImplementedError(
                                    f"bad JPEG AC symbol {sym:#x}"
                                )
                            k += 16  # ZRL
                            continue
                        k += run
                        if k > 63:
                            raise NotImplementedError("JPEG AC overrun")
                        cf[k] = _jpeg_extend(rd.bits(size), size)
                        k += 1

            if len(order) > 1:
                for m in range(mcux * mcuy):
                    if ri and m and m % ri == 0:
                        rd.restart(m // ri - 1)
                        for pcid in order:
                            pred[pcid] = 0
                    mby, mbx = divmod(m, mcux)
                    for cid in order:
                        c = comps[cidx[cid]]
                        for dv in range(c["v"]):
                            for dh in range(c["h"]):
                                idx = (mby * c["v"] + dv) * c["pbx"] + (
                                    mbx * c["h"] + dh
                                )
                                _dc_block(coefs[cidx[cid]][idx], cid)
            else:
                cid = order[0]
                c = comps[cidx[cid]]
                # non-interleaved scan: one block per restart unit
                for bi, idx in enumerate(_own_blocks(c)):
                    if ri and bi and bi % ri == 0:
                        rd.restart(bi // ri - 1)
                        pred[cid] = 0
                    _dc_block(coefs[cidx[cid]][idx], cid)
            continue
        # progressive AC scan: single component (T.81 G.1.1)
        if len(order) != 1:
            raise NotImplementedError("interleaved progressive AC scan")
        cid = order[0]
        carr = coefs[cidx[cid]]
        ccomp = comps[cidx[cid]]
        actab = htables[(1, sel[cid][1])]
        p1, m1 = 1 << al, -1 << al
        eobrun = 0

        def _refine_nonzero(cf, k):
            # G.1.2.3: one correction bit per already-nonzero coef
            if rd.bit() and not (cf[k] & p1):
                cf[k] += p1 if cf[k] > 0 else m1

        for bi, b in enumerate(_own_blocks(ccomp)):
            if ri and bi and bi % ri == 0:
                if eobrun:
                    # G.1.2.2: an EOB run may not span a restart — a
                    # stream that claims one is corrupt; fall back to
                    # header dims rather than decode wrong pixels
                    raise NotImplementedError(
                        "JPEG EOB run spans a restart boundary"
                    )
                rd.restart(bi // ri - 1)
            cf = carr[b]
            if ah == 0:  # AC first pass
                if eobrun:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    sym = rd.huff(actab)
                    run, size = sym >> 4, sym & 0xF
                    if size == 0:
                        if run < 15:  # EOBn
                            eobrun = (1 << run) - 1
                            if run:
                                eobrun += rd.bits(run)
                            break
                        k += 16  # ZRL
                        continue
                    k += run
                    if k > se:
                        raise NotImplementedError("JPEG AC band overrun")
                    cf[k] = _jpeg_extend(rd.bits(size), size) << al
                    k += 1
            else:  # AC refinement pass
                if eobrun:
                    eobrun -= 1
                    for k in range(ss, se + 1):
                        if cf[k]:
                            _refine_nonzero(cf, k)
                    continue
                k = ss
                while k <= se:
                    sym = rd.huff(actab)
                    run, size = sym >> 4, sym & 0xF
                    newval = 0
                    if size == 0:
                        if run < 15:  # EOBn: finish band w/ corrections
                            eobrun = (1 << run) - 1
                            if run:
                                eobrun += rd.bits(run)
                            for kk in range(k, se + 1):
                                if cf[kk]:
                                    _refine_nonzero(cf, kk)
                            k = se + 1
                            break
                        # ZRL: skip 16 zero-history coefs
                    else:
                        if size != 1:
                            raise NotImplementedError(
                                "bad JPEG AC refinement size"
                            )
                        newval = p1 if rd.bit() else m1
                    # advance over `run` zero-history coefs, refining
                    # nonzero ones along the way
                    while k <= se:
                        if cf[k]:
                            _refine_nonzero(cf, k)
                        else:
                            if run == 0:
                                break
                            run -= 1
                        k += 1
                    if newval and k <= se:
                        cf[k] = newval
                    k += 1

    basis = _jpeg_idct_basis()
    dezig = np.array(_JPEG_ZIGZAG, dtype=np.int64)
    planes = []
    for ci, comp in enumerate(comps):
        q = np.array(qtables[comp["tq"]], dtype=np.int64)
        plane = np.zeros((comp["pby"] * 8, comp["pbx"] * 8), dtype=np.int64)
        for by in range(comp["by"]):
            for bx in range(comp["bx"]):
                coef = np.zeros(64, dtype=np.float64)
                coef[dezig] = coefs[ci][by * comp["pbx"] + bx] * q
                block = basis.T @ coef.reshape(8, 8) @ basis
                px = np.rint(block).astype(np.int64) + 128
                plane[
                    by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8
                ] = np.clip(px, 0, 255)
        # crop to the component's own pixels, then replicate up to
        # full resolution (integer ratios only)
        plane = plane[: comp["ch"], : comp["cw"]]
        fy, fx = vmax // comp["v"], hmax // comp["h"]
        if fy * comp["v"] != vmax or fx * comp["h"] != hmax:
            raise NotImplementedError("non-integer JPEG upsampling ratio")
        if fy > 1:
            plane = plane.repeat(fy, axis=0)
        if fx > 1:
            plane = plane.repeat(fx, axis=1)
        planes.append(plane[:h, :w])
    n = w * h
    if len(comps) == 1:
        mean = int(planes[0].sum() // n)
        return {
            "fmt": "jpeg", "width": w, "height": h,
            "n_bytes": len(payload),
            "mean_r": mean, "mean_g": mean, "mean_b": mean,
        }
    y, cb, cr = planes
    # fixed-point YCbCr→RGB, vectorized (same integer ops as
    # codec._jpeg_rgb; numerators kept non-negative by the 2^24
    # offset so >> is plain division in every engine)
    r = np.clip(
        ((65536 * y + 91881 * cr - 11760768 + 32768 + 16777216) >> 16)
        - 256, 0, 255,
    )
    g = np.clip(
        (
            (65536 * y - 22554 * cb - 46802 * cr + 8877568 + 32768
             + 16777216) >> 16
        ) - 256, 0, 255,
    )
    b = np.clip(
        ((65536 * y + 116130 * cb - 14864640 + 32768 + 16777216) >> 16)
        - 256, 0, 255,
    )
    return {
        "fmt": "jpeg", "width": w, "height": h, "n_bytes": len(payload),
        "mean_r": int(r.sum() // n),
        "mean_g": int(g.sum() // n),
        "mean_b": int(b.sum() // n),
    }



def _jpeg_header_decode(payload: bytes) -> dict:
    """REAL JPEG header parse (markers only — no entropy decode):
    dimensions from the first SOF0-SOF15 frame marker. Pixel decode
    still needs a codec library; SOF-less payloads (e.g. the
    generator's opaque DCT stubs) raise NotImplementedError."""
    import struct

    i = 2
    while i + 4 <= len(payload):
        if payload[i] != 0xFF:
            break
        marker = payload[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        (seglen,) = struct.unpack_from(">H", payload, i + 2)
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            prec, h, w, ncomp = struct.unpack_from(">BHHB", payload, i + 4)
            return {
                "fmt": "jpeg", "width": w, "height": h,
                "n_bytes": len(payload), "n_components": ncomp,
                "precision": prec,
            }
        if marker == 0xDA:  # start of scan: entropy data follows
            break
        i += 2 + seglen
    raise NotImplementedError(
        "JPEG without a parseable SOF frame header (or pixel decode "
        "requested) — needs a codec library"
    )


def _avi_decode(payload: bytes) -> dict:
    """REAL video decode (r6 — the last stub closed): RIFF/AVI chunk
    walk (hdrl strf BITMAPINFOHEADER for geometry + codec, movi frame
    chunks), then per-frame PIXEL decode — '00db' uncompressed DIB
    (bottom-up BGR rows, 4-byte stride, the BMP layout, via numpy) or
    '00dc' MJPEG (each frame is a baseline JPEG through _jpeg_decode:
    Huffman + IDCT + fixed-point YCbCr).  Returns container metadata
    plus per-frame integer channel means; no codec library involved."""
    import struct

    import numpy as np

    w = h = None
    bpp = 24
    compression = 0
    chunks: list[tuple[bytes, bytes]] = []

    def walk(pos: int, end: int) -> None:
        nonlocal w, h, bpp, compression
        while pos + 8 <= end:
            cid = payload[pos : pos + 4]
            sz, = struct.unpack_from("<I", payload, pos + 4)
            body = pos + 8
            if cid == b"LIST":
                walk(body + 4, min(body + sz, end))
            elif cid == b"strf" and sz >= 40:
                _, bw, bh = struct.unpack_from("<Iii", payload, body)
                _, bits = struct.unpack_from("<HH", payload, body + 12)
                comp, = struct.unpack_from("<I", payload, body + 16)
                w, h, bpp, compression = bw, abs(bh), bits, comp
            elif cid in (b"00db", b"00dc"):
                chunks.append((cid, payload[body : body + sz]))
            pos = body + sz + (sz & 1)

    walk(12, len(payload))
    if w is None or not chunks:
        raise NotImplementedError("AVI without strf header or frames")
    mjpg = compression == struct.unpack("<I", b"MJPG")[0]
    if not mjpg and (compression != 0 or bpp != 24):
        raise NotImplementedError("AVI codec beyond DIB 24-bit / MJPEG")
    frames = []
    stride = (w * 3 + 3) & ~3
    n = w * h
    for idx, (cid, data) in enumerate(chunks):
        if cid == b"00dc":
            m = _jpeg_decode(data)
            frames.append((idx, m["mean_r"], m["mean_g"], m["mean_b"]))
        else:
            if len(data) < stride * h:
                raise NotImplementedError("DIB frame shorter than geometry")
            px = np.frombuffer(
                data, dtype=np.uint8, count=stride * h
            ).reshape(h, stride)[:, : w * 3]
            bgr = px[::-1].reshape(h, w, 3).astype(np.int64)
            frames.append(
                (idx,
                 int(bgr[:, :, 2].sum() // n),
                 int(bgr[:, :, 1].sum() // n),
                 int(bgr[:, :, 0].sum() // n))
            )
    return {
        "fmt": "avi", "codec": "mjpg" if mjpg else "dib",
        "width": w, "height": h, "n_bytes": len(payload),
        "n_frames": len(frames), "frames": frames,
    }


def _fake_decode(payload: bytes) -> dict:
    """Deterministic decode stand-in: dimensions from the embedded
    digest bytes (payload[4:8]); format from the magic."""
    fmt = "jpeg" if payload[:2] == b"\xff\xd8" else "unknown"
    width = 1 + (int.from_bytes(payload[4:6], "big") % 1024)
    height = 1 + (int.from_bytes(payload[6:8], "big") % 1024)
    return {"fmt": fmt, "width": width, "height": height, "n_bytes": len(payload)}


def media_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media spans of the synthesized interleaved table.

    r9: derived closed-form instead of synthesizing + exploding the
    full span-struct table. The synthesis contract
    (engine._SPANS_EXPR == codec.synth_spans_py) places one media
    span per text chunk i with i % 3 == 2, i < k = ceil(len/80),
    with media_ref = 'm' + md5(doc_id || ':' || i)[:16] — so
    sequence(2, k-1, 3) enumerates exactly those i. Identical rows,
    no struct array, no kind filter."""
    from ..engine import load_documents

    docs = load_documents(spark, sf_dir).select("doc_id", "text")
    k = "CAST(ceil(length(text) / 80.0) AS INT)"
    refs = (
        f"CASE WHEN {k} >= 3 THEN transform(sequence(2, {k} - 1, 3),"
        " i -> concat('m', substring(md5(concat("
        "cast(doc_id AS string), ':', cast(i AS string))), 1, 16)))"
        " ELSE array() END"
    )
    return docs.select(
        "doc_id", F.explode(F.expr(refs)).alias("media_ref")
    )


def attach_media_bytes(media: DataFrame) -> DataFrame:
    """media_ref → opaque binary payload (the generator's DCT stub),
    Arrow-batched."""

    def one(did, mref):
        return [(did, mref, _media_stub_bytes(mref))]

    return per_doc(media, one, MEDIA_BYTES_SCHEMA, _MEDIA_REF_COLS)


def decode_media(with_bytes: DataFrame) -> DataFrame:
    """Vectorized decode + resize stage: one Arrow batch of binary
    payloads in, typed metadata out. thumb = fit into 64×64 (integer
    math, oracle-exact)."""

    def one(did, mref, payload):
        m = _fake_decode(bytes(payload))
        w, h = m["width"], m["height"]
        return [(
            did, mref, m["fmt"], w, h, m["n_bytes"],
            max(1, w * 64 // max(w, h)), max(1, h * 64 // max(w, h)),
        )]

    return per_doc(with_bytes, one, MEDIA_META_SCHEMA, _MEDIA_BYTES_COLS)


def media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decode_media(attach_media_bytes(media_spans(spark, sf_dir)))


def _hex_to_int(hex_expr: str, lo: int, n: int) -> str:
    """Portable hex→int over substr [lo, lo+n) of a hex string —
    identical text runs in Spark SQL and DuckDB."""
    return (
        "("
        + " + ".join(
            f"(instr('0123456789abcdef', substr({hex_expr}, {lo + k}, 1)) - 1)"
            f" * {16 ** (n - 1 - k)}"
            for k in range(n)
        )
        + ")"
    )


def _media_meta_sql() -> str:
    # payload = ffd8ffe0 || md5*4 || ffd9 → bytes[4:6] = md5 hex[1:4],
    # bytes[6:8] = md5 hex[5:8]; n_bytes = 4 + 64 + 2
    w = f"(1 + ({_hex_to_int('md5(media_ref)', 1, 4)}) % 1024)"
    h = f"(1 + ({_hex_to_int('md5(media_ref)', 5, 4)}) % 1024)"
    return f"""
WITH c AS (
  SELECT doc_id, unnest(range(CAST(ceil(length(text)/80.0) AS BIGINT))) AS i
  FROM documents
),
media AS (
  SELECT doc_id,
         'm' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 16)
           AS media_ref
  FROM c WHERE i % 3 = 2
),
dims AS (
  SELECT doc_id, media_ref, {w} AS width, {h} AS height FROM media
)
SELECT doc_id, media_ref, 'jpeg' AS fmt,
       CAST(width AS INT) AS width, CAST(height AS INT) AS height,
       70 AS n_bytes,
       CAST(greatest(1, width * 64 // greatest(width, height)) AS INT) AS thumb_w,
       CAST(greatest(1, height * 64 // greatest(width, height)) AS INT) AS thumb_h
FROM dims
"""


# ---------------------------------------------------------------------------
# Frame sampling (video-shaped media): the container is opaque binary;
# frame decode is stubbed, the sampling plumbing (batch shape, schema,
# determinism) is real
# ---------------------------------------------------------------------------

FRAME_STEP = 4  # sample every 4th frame
FRAMES_SCHEMA = "doc_id bigint, media_ref string, frame_idx int, frame_tag string"


def sample_frames(with_bytes: DataFrame) -> DataFrame:
    """Treat each media payload as a fake container whose frame count
    derives from its digest (1 + hex[9:12] % 48); emit every
    FRAME_STEP-th frame with a deterministic tag (stub for the real
    frame grab — ffmpeg on a production cluster)."""

    def one(did, mref, payload):
        # frame count from container bytes [8:10) — which are digest
        # bytes, so the SQL oracle can re-derive them from
        # md5(media_ref) (DuckDB's md5 has no BLOB form)
        n_frames = 1 + int.from_bytes(bytes(payload)[8:10], "big") % 48
        return [
            (did, mref, fi, hashlib.md5(f"{mref}:{fi}".encode()).hexdigest()[:8])
            for fi in range(0, n_frames, FRAME_STEP)
        ]

    return per_doc(with_bytes, one, FRAMES_SCHEMA, _MEDIA_BYTES_COLS)


def media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sample_frames(attach_media_bytes(media_spans(spark, sf_dir)))


# ---------------------------------------------------------------------------
# REAL decode path (r4): BMP payloads decoded for real — header parse,
# numpy pixel math, integer channel means. No codec library involved.
# ---------------------------------------------------------------------------

MEDIA_DECODE_SCHEMA = (
    "doc_id bigint, media_ref string, fmt string, width int, height int, "
    "mean_r int, mean_g int, mean_b int"
)


def media_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query `media_decode_real`: every media span gets a REAL
    payload — BMP (BI_RGB), PNG (zlib inflate + filtered scanlines),
    GIF (GIF-LZW sub-blocks), TIFF (none/LZW) or JPEG (canonical
    Huffman + IDCT, r5; progressive r7; 4:2:0-subsampled and
    restart-interval r8), rotating on the digest — and runs
    through `decode_image_real`: actual header parsing, entropy
    decode, unfiltering and pixel statistics, not the stub, inside
    one Arrow-batched stage. The closed-form oracle re-derives
    format, dims and channel means from md5(media_ref); for JPEG the
    means are the YCbCr fixed-point roundtrip of the color (the one
    lossy step — mirrored integer-exactly in SQL)."""
    from ..codec import (
        _media_bmp_bytes, _media_gif_bytes, _media_jpeg_420_bytes,
        _media_jpeg_bytes, _media_jpeg_dri_bytes,
        _media_jpeg_progressive_bytes, _media_png_bytes,
        _media_tiff_bytes,
    )

    makers = (
        _media_bmp_bytes, _media_png_bytes, _media_gif_bytes,
        _media_tiff_bytes, _media_jpeg_bytes,
        _media_jpeg_progressive_bytes, _media_jpeg_420_bytes,
        _media_jpeg_dri_bytes,
    )

    def one(did, mref):
        maker = makers[hashlib.md5(mref.encode()).digest()[5] % 8]
        m = decode_image_real(maker(mref))
        return [(
            did, mref, m["fmt"], m["width"], m["height"],
            m["mean_r"], m["mean_g"], m["mean_b"],
        )]

    return per_doc(
        media_spans(spark, sf_dir), one, MEDIA_DECODE_SCHEMA, _MEDIA_REF_COLS
    )


MEDIA_VIDEO_SCHEMA = (
    "doc_id bigint, media_ref string, codec string, frame_idx int, "
    "width int, height int, mean_r int, mean_g int, mean_b int"
)


def media_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query `media_video_frames` (r6): the VIDEO leg of the
    multimodal triad, now with real pixel decode — every media span
    gets a deterministic AVI container (codec rotating uncompressed
    DIB / MJPEG on the digest) and runs through `_avi_decode`: RIFF
    chunk walk + per-frame numpy DIB or baseline-JPEG pixel decode.
    One row per frame with integer channel means; the closed-form
    oracle re-derives geometry, frame count, codec and the per-frame
    shifted color (MJPEG: its YCbCr fixed-point roundtrip) from
    md5(media_ref)."""
    from ..codec import _media_avi_bytes

    def one(did, mref):
        m = decode_image_real(_media_avi_bytes(mref))
        return [
            (did, mref, m["codec"], fi, m["width"], m["height"], mr, mg, mb)
            for (fi, mr, mg, mb) in m["frames"]
        ]

    return per_doc(
        media_spans(spark, sf_dir), one, MEDIA_VIDEO_SCHEMA, _MEDIA_REF_COLS
    )


def _media_video_sql() -> str:
    w = f"(1 + ({_hex_to_int('md5(media_ref)', 1, 2)}) % 8)"
    h = f"(1 + ({_hex_to_int('md5(media_ref)', 3, 2)}) % 8)"
    r = _hex_to_int("md5(media_ref)", 5, 2)
    g = _hex_to_int("md5(media_ref)", 7, 2)
    b = _hex_to_int("md5(media_ref)", 9, 2)
    n_frames = f"(2 + ({_hex_to_int('md5(media_ref)', 17, 2)}) % 6)"
    codec = (
        f"CASE ({_hex_to_int('md5(media_ref)', 19, 2)}) % 2 "
        "WHEN 1 THEN 'mjpg' ELSE 'dib' END"
    )
    return f"""
WITH c AS (
  SELECT doc_id, unnest(range(CAST(ceil(length(text)/80.0) AS BIGINT))) AS i
  FROM documents
),
media AS (
  SELECT doc_id,
         'm' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 16)
           AS media_ref
  FROM c WHERE i % 3 = 2
),
vid AS (
  SELECT doc_id, media_ref, {codec} AS codec,
         CAST({w} AS BIGINT) AS w, CAST({h} AS BIGINT) AS h,
         CAST({r} AS BIGINT) AS r0, CAST({g} AS BIGINT) AS g0,
         CAST({b} AS BIGINT) AS b0, {n_frames} AS n_frames
  FROM media
),
-- frame k's solid color: base shifted +k mod 256 per channel
frames AS (
  SELECT doc_id, media_ref, codec, w, h,
         unnest(range(n_frames)) AS frame_idx,
         (r0 + unnest(range(n_frames))) % 256 AS r,
         (g0 + unnest(range(n_frames))) % 256 AS g,
         (b0 + unnest(range(n_frames))) % 256 AS b
  FROM vid
),
-- MJPEG's one lossy step: the same 16.16 fixed-point YCbCr roundtrip
-- as the still-JPEG oracle (codec._jpeg_ycc/_jpeg_rgb)
ycc AS (
  SELECT *,
         (19595*r + 38470*g + 7471*b + 32768) // 65536 AS y,
         least(255, (8421376 - 11059*r - 21712*g + 32768*b + 32768)
                    // 65536) AS cb,
         least(255, (8421376 + 32768*r - 27439*g - 5329*b + 32768)
                    // 65536) AS cr
  FROM frames
),
rt AS (
  SELECT *,
         greatest(0, least(255,
           (65536*y + 91881*cr - 11760768 + 32768 + 16777216) // 65536
             - 256)) AS r2,
         greatest(0, least(255,
           (65536*y - 22554*cb - 46802*cr + 8877568 + 32768 + 16777216)
             // 65536 - 256)) AS g2,
         greatest(0, least(255,
           (65536*y + 116130*cb - 14864640 + 32768 + 16777216) // 65536
             - 256)) AS b2
  FROM ycc
)
SELECT doc_id, media_ref, codec, CAST(frame_idx AS INT) AS frame_idx,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(CASE WHEN codec = 'mjpg' THEN r2 ELSE r END AS INT) AS mean_r,
       CAST(CASE WHEN codec = 'mjpg' THEN g2 ELSE g END AS INT) AS mean_g,
       CAST(CASE WHEN codec = 'mjpg' THEN b2 ELSE b END AS INT) AS mean_b
FROM rt
"""


MEDIA_AUDIO_SCHEMA = (
    "doc_id bigint, media_ref string, fmt string, sample_rate int, "
    "n_channels int, n_samples int, peak int"
)


def media_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query `media_audio_meta`: the audio leg of the
    multimodal triad — every media span gets a REAL PCM WAV payload
    (deterministic in media_ref) and runs through the real decoder
    (RIFF chunk walk + numpy sample statistics). Closed-form oracle
    over md5(media_ref)."""
    from ..codec import _media_wav_bytes

    def one(did, mref):
        m = decode_image_real(_media_wav_bytes(mref))
        return [(
            did, mref, m["fmt"], m["sample_rate"], m["n_channels"],
            m["n_samples"], m["peak"],
        )]

    return per_doc(
        media_spans(spark, sf_dir), one, MEDIA_AUDIO_SCHEMA, _MEDIA_REF_COLS
    )


def _media_audio_sql() -> str:
    rate = f"(8000 + (({_hex_to_int('md5(media_ref)', 11, 2)}) % 8) * 1000)"
    n = f"(16 + ({_hex_to_int('md5(media_ref)', 13, 2)}) % 240)"
    peak = f"(1 + (({_hex_to_int('md5(media_ref)', 15, 2)}) * 117) % 30000)"
    return f"""
WITH c AS (
  SELECT doc_id, unnest(range(CAST(ceil(length(text)/80.0) AS BIGINT))) AS i
  FROM documents
),
media AS (
  SELECT doc_id,
         'm' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 16)
           AS media_ref
  FROM c WHERE i % 3 = 2
)
SELECT doc_id, media_ref, 'wav' AS fmt,
       CAST({rate} AS INT) AS sample_rate, CAST(1 AS INT) AS n_channels,
       CAST({n} AS INT) AS n_samples, CAST({peak} AS INT) AS peak
FROM media
"""


def _media_decode_sql() -> str:
    # BMP dims/color derive from md5(media_ref) DIGEST bytes 0..4 =
    # hex chars 1-2 / 3-4 / 5-6 / 7-8 / 9-10 (solid color → the
    # integer channel means ARE the color bytes)
    w = f"(1 + ({_hex_to_int('md5(media_ref)', 1, 2)}) % 8)"
    h = f"(1 + ({_hex_to_int('md5(media_ref)', 3, 2)}) % 8)"
    r = _hex_to_int("md5(media_ref)", 5, 2)
    g = _hex_to_int("md5(media_ref)", 7, 2)
    b = _hex_to_int("md5(media_ref)", 9, 2)
    # format rotation: digest byte 5 (hex chars 11-12) % 8
    # (indexes 4-7 are all jpeg: baseline, progressive, 4:2:0
    # subsampled and restart-interval share the fmt tag and the
    # YCbCr-roundtrip means — the single-MCU solid color survives
    # chroma downsample exactly, and DRI changes framing, not pixels)
    fmt = (
        f"CASE ({_hex_to_int('md5(media_ref)', 11, 2)}) % 8 "
        "WHEN 0 THEN 'bmp' WHEN 1 THEN 'png' WHEN 2 THEN 'gif' "
        "WHEN 3 THEN 'tiff' ELSE 'jpeg' END"
    )
    return f"""
WITH c AS (
  SELECT doc_id, unnest(range(CAST(ceil(length(text)/80.0) AS BIGINT))) AS i
  FROM documents
),
media AS (
  SELECT doc_id,
         'm' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 16)
           AS media_ref
  FROM c WHERE i % 3 = 2
),
rgb AS (
  SELECT doc_id, media_ref, {fmt} AS fmt,
         CAST({w} AS BIGINT) AS w, CAST({h} AS BIGINT) AS h,
         CAST({r} AS BIGINT) AS r, CAST({g} AS BIGINT) AS g,
         CAST({b} AS BIGINT) AS b
  FROM media
),
-- JPEG's one lossy step, RGB→YCbCr in 16.16 fixed point
-- (codec._jpeg_ycc: floor shift; only Cb/Cr can graze 256 → least)
ycc AS (
  SELECT *,
         (19595*r + 38470*g + 7471*b + 32768) // 65536 AS y,
         least(255, (8421376 - 11059*r - 21712*g + 32768*b + 32768)
                    // 65536) AS cb,
         least(255, (8421376 + 32768*r - 27439*g - 5329*b + 32768)
                    // 65536) AS cr
  FROM rgb
),
-- …and back (codec._jpeg_rgb: +2^24 offset keeps numerators
-- non-negative so // is the same floor shift in every engine)
rt AS (
  SELECT *,
         greatest(0, least(255,
           (65536*y + 91881*cr - 11760768 + 32768 + 16777216) // 65536
             - 256)) AS r2,
         greatest(0, least(255,
           (65536*y - 22554*cb - 46802*cr + 8877568 + 32768 + 16777216)
             // 65536 - 256)) AS g2,
         greatest(0, least(255,
           (65536*y + 116130*cb - 14864640 + 32768 + 16777216) // 65536
             - 256)) AS b2
  FROM ycc
)
SELECT doc_id, media_ref, fmt,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(CASE WHEN fmt = 'jpeg' THEN r2 ELSE r END AS INT) AS mean_r,
       CAST(CASE WHEN fmt = 'jpeg' THEN g2 ELSE g END AS INT) AS mean_g,
       CAST(CASE WHEN fmt = 'jpeg' THEN b2 ELSE b END AS INT) AS mean_b
FROM rt
"""


def _media_frames_sql() -> str:
    # payload bytes [8:10) = md5(media_ref) digest bytes [4:6) =
    # hex chars 9..12 → same value from the hex string directly
    n_frames = f"(1 + ({_hex_to_int('md5(media_ref)', 9, 4)}) % 48)"
    return f"""
WITH c AS (
  SELECT doc_id, unnest(range(CAST(ceil(length(text)/80.0) AS BIGINT))) AS i
  FROM documents
),
media AS (
  SELECT doc_id,
         'm' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 16)
           AS media_ref
  FROM c WHERE i % 3 = 2
),
frames AS (
  SELECT doc_id, media_ref,
         unnest(range(0, {n_frames}, {FRAME_STEP})) AS frame_idx
  FROM media
)
SELECT doc_id, media_ref, CAST(frame_idx AS INT) AS frame_idx,
       substr(md5(media_ref || ':' || CAST(frame_idx AS VARCHAR)), 1, 8) AS frame_tag
FROM frames
"""


def queries():
    return {
        "media_meta": media_meta,
        "media_frames": media_frames,
        "media_decode_real": media_decode_real,
        "media_audio_meta": media_audio_meta,
        "media_video_frames": media_video_frames,
    }


def oracles():
    return {
        "media_meta": _media_meta_sql(),
        "media_frames": _media_frames_sql(),
        "media_decode_real": _media_decode_sql(),
        "media_audio_meta": _media_audio_sql(),
        "media_video_frames": _media_video_sql(),
    }
