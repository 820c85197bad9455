"""Filter decode/encode tests (SURVEY.md §2.5 F1-F7)."""

from __future__ import annotations

import random
import zlib

import pytest

from pdfspark.kernel.cos import CDict, Name
from pdfspark.kernel.errors import EParseError
from pdfspark.kernel.filters import (
    a85_decode,
    a85_encode,
    ahx_decode,
    ahx_encode,
    decode_stream,
    flate_decode,
    flate_encode,
    lzw_decode,
    lzw_encode,
    predictor_decode,
    predictor_encode_up,
    rl_decode,
    rl_encode,
)

rng = random.Random(42)
CASES = [
    b"",
    b"a",
    b"Hello World",
    b"aaaaaaaaaaaaaaaaaaaaaaaaaaa",
    bytes(rng.randrange(256) for _ in range(1000)),
    b"the fast key order " * 500,
    bytes(rng.randrange(256) for _ in range(30000)),
]


@pytest.mark.parametrize("data", CASES, ids=range(len(CASES)))
def test_flate_roundtrip(data):
    assert flate_decode(flate_encode(data)) == data


@pytest.mark.parametrize("data", CASES, ids=range(len(CASES)))
def test_lzw_roundtrip(data):
    assert lzw_decode(lzw_encode(data)) == data


@pytest.mark.parametrize("data", CASES, ids=range(len(CASES)))
def test_a85_roundtrip(data):
    assert a85_decode(a85_encode(data)) == data


def test_a85_z_shortcut_and_eod():
    assert a85_decode(b"z~>") == b"\x00\x00\x00\x00"
    assert a85_decode(a85_encode(b"\x00" * 8)) == b"\x00" * 8


@pytest.mark.parametrize("data", CASES, ids=range(len(CASES)))
def test_ahx_roundtrip(data):
    assert ahx_decode(ahx_encode(data)) == data


def test_ahx_odd_pad_and_ws():
    assert ahx_decode(b"48 65 6c 6c 6f>") == b"Hello"
    assert ahx_decode(b"901fa>") == b"\x90\x1f\xa0"
    with pytest.raises(EParseError):
        ahx_decode(b"zz>")


@pytest.mark.parametrize("data", CASES, ids=range(len(CASES)))
def test_rl_roundtrip(data):
    assert rl_decode(rl_encode(data)) == data


def test_rl_encode_vectorized_matches_reference():
    """r8: the numpy rl_encode must be BYTE-identical to the
    reference loop (_rl_encode_py) — run chunking at 128, the
    128k+1-group trailing single joining the following literal span,
    literal 128-caps, replicate groups at data edges."""
    import random

    from pdfspark.kernel.filters import _rl_encode_py

    structured = [
        b"", b"a", b"aa", b"a" * 127, b"a" * 128, b"a" * 129,
        b"a" * 130, b"a" * 256, b"a" * 257, b"a" * 258,
        bytes(range(256)) * 2, b"ab" * 300,
        b"a" * 129 + b"bb" + b"a" * 129,
        b"x" * 500 + bytes(range(200)) + b"y" * 3,
        b"q" * 129 + b"r" * 129,  # two leftover singles never adjacent
    ]
    rng = random.Random(8)
    for _ in range(400):
        n = rng.randrange(0, 1200)
        parts = []
        while sum(map(len, parts)) < n:
            if rng.random() < 0.5:
                parts.append(
                    bytes([rng.randrange(256)]) * rng.randrange(1, 300)
                )
            else:
                parts.append(
                    bytes(rng.randrange(256) for _ in range(rng.randrange(1, 50)))
                )
        structured.append(b"".join(parts)[:n])
    for c in structured:
        enc = rl_encode(c)
        assert enc == _rl_encode_py(c)
        assert rl_decode(enc) == c


def test_rl_spec_semantics():
    # spec-correct literal copy (the reference's :436 off-by-one is a
    # documented divergence in an untested path, SURVEY §5 policy)
    assert rl_decode(bytes([2]) + b"abc" + bytes([128])) == b"abc"
    assert rl_decode(bytes([255, 0x41, 128])) == b"A" * 2
    assert rl_decode(bytes([129]) + b"x") == b"x" * 128


# --- predictors (F2) ---------------------------------------------------


def test_png_up_roundtrip():
    data = bytes(rng.randrange(256) for _ in range(7 * 50))
    enc = predictor_encode_up(data, 7)
    assert predictor_decode(enc, 12, columns=7) == data


def test_png_filters_mixed_rows():
    import numpy as np

    cols, bpp = 5, 1
    rows = [bytes(rng.randrange(256) for _ in range(cols)) for _ in range(6)]
    raw = b"".join(rows)

    # hand-encode rows with tags 0..4 then decode
    out = bytearray()
    prev = bytes(cols)
    for i, row in enumerate(rows):
        t = i % 5
        out.append(t)
        if t == 0:
            out += row
        elif t == 1:  # Sub
            out += bytes(
                (row[x] - (row[x - bpp] if x >= bpp else 0)) & 0xFF for x in range(cols)
            )
        elif t == 2:  # Up
            out += bytes((row[x] - prev[x]) & 0xFF for x in range(cols))
        elif t == 3:  # Average
            out += bytes(
                (row[x] - (((row[x - bpp] if x >= bpp else 0) + prev[x]) >> 1)) & 0xFF
                for x in range(cols)
            )
        else:  # Paeth
            def paeth(a, b, c):
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

            out += bytes(
                (
                    row[x]
                    - paeth(
                        row[x - bpp] if x >= bpp else 0,
                        prev[x],
                        prev[x - bpp] if x >= bpp else 0,
                    )
                )
                & 0xFF
                for x in range(cols)
            )
        prev = row
    assert predictor_decode(bytes(out), 15, columns=cols) == raw


def test_tiff_predictor():
    row = b"\x10\x20\x30\x40"
    diff = bytes([0x10, 0x10, 0x10, 0x10])
    assert predictor_decode(diff, 2, columns=4) == row


# --- chains + registry (StreamDecoder.java:180-204) --------------------


def test_filter_chain_decode():
    body = b"chained payload " * 20
    enc = a85_encode(flate_encode(body))
    d = CDict()
    d[Name("Filter")] = [Name("ASCII85Decode"), Name("FlateDecode")]
    assert decode_stream(enc, d) == body


def test_abbreviated_names():
    body = b"x" * 100
    d = CDict()
    d[Name("Filter")] = Name("Fl")
    assert decode_stream(flate_encode(body), d) == body


def test_passthrough_codecs():
    d = CDict()
    d[Name("Filter")] = Name("DCTDecode")
    blob = b"\xff\xd8\xff\xe0 opaque"
    assert decode_stream(blob, d) == blob  # Filter_DoNothing semantics


def test_unsupported_filter_raises():
    d = CDict()
    d[Name("Filter")] = Name("FooDecode")
    with pytest.raises(EParseError):
        decode_stream(b"", d)


def test_lzw_code_before_any_entry_is_eparse_error():
    """A first code past the 258 fixed entries (here 300) names no
    table entry: a broken stream, in both decoders."""
    from pdfspark.kernel import cos
    from pdfspark.kernel import filters as Fl
    from pdfspark.kernel.errors import EParseError

    fns = [Fl._lzw_decode_py]
    if getattr(cos._CTOK, "lzw_decode", None) is not None:
        fns.append(cos._CTOK.lzw_decode)
    for fn in fns:
        with pytest.raises(EParseError, match="LZW code 300 not in table"):
            fn(b"\x96\x00")


def test_a85_group_overflow_is_eparse_error():
    """A group above 2^32-1 is malformed input, not an OverflowError,
    in both twins — full group, padded tail, and after a valid group."""
    from pdfspark.kernel import filters as Fl
    from pdfspark.kernel.errors import EParseError

    for d in (b"uuuuu", b"uu", b"!!!!!uuuuu", b"s8W-\"uuuuu!!!!!"):
        for fn in (Fl.a85_decode, Fl._a85_decode_loop):
            with pytest.raises(EParseError, match="ascii85 group overflow"):
                fn(d)


def test_a85_vectorized_vs_loop_differential():
    """The numpy ASCII85 fast path must agree with the per-byte loop
    (the semantics authority) on results AND error class/message/order
    over valid, mutated, and random-garbage inputs."""
    import random

    from pdfspark.kernel import filters as Fl
    from pdfspark.kernel.errors import EParseError

    rng = random.Random(0xA85)

    def run(fn, d):
        try:
            return ("ok", fn(d))
        except EParseError as e:
            return ("EParseError", str(e))

    for _ in range(600):
        n = rng.randrange(0, 160)
        if rng.randrange(2):
            d = Fl.a85_encode(bytes(rng.randrange(256) for _ in range(n)))
            if rng.randrange(3) == 0:
                d = bytearray(d)
                for _ in range(rng.randrange(1, 3)):
                    if d:
                        d[rng.randrange(len(d))] = rng.randrange(256)
                d = bytes(d)
        else:
            d = bytes(rng.randrange(33, 122) for _ in range(n))
        a = run(Fl.a85_decode, d)
        i = d.find(b"~")
        d2 = d[:i] if i >= 0 else d
        b = run(Fl._a85_decode_loop, d2.translate(None, Fl._A85_WS))
        assert a == b, (d[:60], a, b)


def test_a85_encode_vectorized_vs_loop():
    """Vectorized ASCII85 encode must be byte-identical to the loop
    twin, including zero-block ('z') and partial-tail inputs."""
    import random

    from pdfspark.kernel import filters as Fl

    rng = random.Random(0xE85)
    for _ in range(500):
        n = rng.randrange(0, 160)
        mode = rng.randrange(3)
        if mode == 0:
            d = bytes(rng.randrange(256) for _ in range(n))
        elif mode == 1:
            d = bytes(rng.choice(b"\x00ab") for _ in range(n))
        else:
            d = b"\x00" * n
        assert Fl.a85_encode(d) == Fl._a85_encode_loop(d)
        assert Fl.a85_decode(Fl.a85_encode(d)) == d
