"""Differential parity: the `_ctok` C scanner vs the pure-Python
scanner (cos._parse_object_py). The C module is an optional drop-in —
any result or error-class divergence on the same bytes is a bug.

Skipped wholesale when the C module failed to load (no gcc/headers):
the pure-Python path is then the only path and is covered everywhere
else.
"""

from __future__ import annotations

import contextlib
import logging
import random

import pytest

from pdfspark.kernel import cos
from pdfspark.kernel.errors import EParseError, ParserSettings
from pdfspark.kernel.raw import Raw

pytestmark = pytest.mark.skipif(
    cos._CTOK is None, reason="C tokenizer not available in this env"
)


def _both(payload: bytes, settings=None):
    """(value, pos, err) from the C path and the Python path."""

    def run(fn):
        r = Raw(payload, settings)
        try:
            v = fn(r, None)
            return (v, r.pos, None)
        except EParseError:
            return (None, None, "EParseError")
        except RecursionError:
            return (None, None, "RecursionError")

    c = run(cos.parse_object)
    py = run(cos._parse_object_py)
    return c, py


def _assert_same(payload: bytes, settings=None):
    c, py = _both(payload, settings)
    assert c[2] == py[2], (payload[:120], c[2], py[2])
    if c[2] is None:
        assert cos.produce(c[0]) == cos.produce(py[0]), payload[:120]
        assert c[1] == py[1], (payload[:120], c[1], py[1])


@contextlib.contextmanager
def _soft_events(caplog):
    """Collect the (tier, msg) soft events logged inside the block."""
    events: list = []
    with caplog.at_level(logging.DEBUG, logger="pdfspark.kernel"):
        start = len(caplog.records)
        yield events
        events.extend(
            tuple(rec.getMessage().split(": ", 1))
            for rec in caplog.records[start:]
            if rec.name == "pdfspark.kernel"
        )


CORPUS = [
    b"42", b"-0000", b"+1234567890", b"4.", b"-.002", b"34.5", b"0.0",
    b"123456789012345678901234567890",  # > long long
    b"9223372036854775807", b"-9223372036854775808",  # int64 bounds
    b"9223372036854775808", b"-9223372036854775809",  # one past them
    b"9" * 400 + b".5", b"1" + b"0" * 300 + b".0",  # beyond / within double
    b"true", b"false", b"null", b"trueX",  # keyword + abutting junk
    b"/Name1", b"/", b"/lime#20Green", b"/A#42", b"/paired#28#29x",
    b"3 0 R", b"12 65535 R", b"1234567890 0 R",  # 10-digit id → number
    b"5 0 R/",  # ref terminated by delimiter
    b"(simple)", rb"(\0053)", rb"(\53)", b"(nested (p) q)",
    b"(bare\rEOL)", b"(bare\r\nEOL)", b"(line\\\ncont)", rb"(unk \q esc)",
    b"<48656c6C6f>", b"<90 1f a>", b"<>",
    b"[1 2.5 (s) <0aff> /N true null 7 0 R]",
    b"[[1 [2 [3]]] 4]",
    b"<< /A 1 /B (x) >>",
    b"<</Type/Pages/Kids[3 0 R]/Count 1>>",
    b"<< /A << /B << /C [1 2] >> >> >>",
    b"<< /Length 5 >>\nstream\nHELLO\nendstream",
    b"<< /Length 5 >>\r\nstream\r\nHELLO\r\nendstream",
    b"<< /Length 5 >> stream\nHELLOendstream",
    b"<< /Length 0 >>\nstream\n\nendstream",
    b"% comment\n 7", b"%only comment",
    # malformed family — both sides must fail the same way
    b"3.14e5", b"1.2.3", b"--5", b"+-1", b".", b"", b"   ",
    b"<90zz>", b"(open", b"<< /A 1", b"[1 2", b"]", b">>", b"tru", b"nul",
    b"<< 5 6 >>",  # non-name key
    b"<< /Length 99 >>\nstream\nshort\nendstream",  # body beyond EOF
    b"<< /Length 9223372036854775807 >>\nstream\nxx\nendstream",  # no wrap
    b"<< /Length -5 >>\nstream\nxx\nendstream",  # negative length
    b"<< /Length /Nope >>\nstream\nxx\nendstream",  # non-int length
    b"{", b"}", b"12x", b"5 0 Rx",
    # soft events: lone CR after `stream`, no endstream in scan range
    b"<< /Length 2 >>\nstream\rXXendstream",
    b"<< /Length 2 >>\nstream\nXX" + b"Y" * 300 + b"endstream",
]


@pytest.mark.parametrize("payload", CORPUS, ids=range(len(CORPUS)))
def test_corpus_parity(payload):
    _assert_same(payload)


def test_salvage_mode_parity():
    st = ParserSettings(allow_reconstruction=True)
    _assert_same(b"<< /Length /Nope >>\nstream\nBODY\nendstream", st)
    _assert_same(b"<< /Length /Nope >>\nstream\nBODY", st)  # no endstream


def test_diagnostics_parity(caplog):
    """Both tiers log the same (tier, msg) soft events, and no soft
    event raises: the scanners over CORPUS, the content lexers over a
    dictionary operand followed by `stream`, and the page walks over a
    /Pages node without /Kids."""
    from conftest import classic_pdf
    from pdfspark.kernel import docmodel, textops
    from pdfspark.kernel.extract import parse_document

    def run(fn, *args):
        with _soft_events(caplog) as ev:
            try:
                out = fn(*args)
            except (EParseError, RecursionError):
                out = None
        return out, ev

    seen = set()
    for payload in CORPUS:
        c, c_ev = run(lambda: cos.parse_object(Raw(payload)))
        py, py_ev = run(lambda: cos._parse_object_py(Raw(payload)))
        assert c_ev == py_ev, payload[:120]
        if c_ev:
            assert c is not None and py is not None, payload[:120]
        seen.update(c_ev)
    assert seen == {
        ("syntax", "lone CR after 'stream' keyword"),
        ("structure", "endstream not found within scan range"),
    }

    content = b"<< /Length 2 >>\nstream\rXXendstream BDC (x) Tj"
    c, c_ev = run(cos._CTOK.lex_content, content)
    py, py_ev = run(lambda: list(textops._lex_content_py(content)))
    assert repr(c) == repr(py) and c_ev == py_ev == [
        ("syntax", "lone CR after 'stream' keyword")
    ]

    if docmodel._CTOK_WALK is None:
        return
    doc = parse_document(
        classic_pdf([b"<< /Type /Catalog /Pages 2 0 R >>", b"<< /Type /Pages >>"])
    )
    c, c_ev = run(doc.pages)
    with _force_python():
        py, py_ev = run(doc.pages)
    assert c == py == [] and c_ev == py_ev == [
        ("structure", "/Pages node without /Kids")
    ]


def test_indirect_length_resolver_parity():
    becomes = {7: 5}

    def resolver(ref):
        return becomes.get(ref.num, cos.COS_NULL)

    payload = b"<< /Length 7 0 R >>\nstream\nHELLO\nendstream"
    rc = Raw(payload)
    vc = cos.parse_object(rc, resolver)
    rp = Raw(payload)
    vp = cos._parse_object_py(rp, resolver)
    assert isinstance(vc, cos.CStream) and vc.data == vp.data == b"HELLO"
    assert rc.pos == rp.pos
    # resolver=None must error identically
    _assert_same(payload)


def test_mutation_fuzz_parity():
    """Seeded byte-mutation fuzz over realistic serialized values: the
    two scanners must agree on success/error and on the parsed value."""
    rng = random.Random(0xC70C)
    seeds = [
        cos.produce(
            cos.parse_object(
                Raw(b"<< /T /X /K [1 2 (ab) <0aff> 3 0 R] /D << /N null >> >>")
            )
        ),
        b"<< /Length 11 >>\nstream\nhello world\nendstream",
        b"[((a))(b\\)c) /N#20M 1 2 R -7 .5 <ff>]",
    ]
    for _ in range(400):
        base = bytearray(rng.choice(seeds))
        for _ in range(rng.randrange(1, 4)):
            i = rng.randrange(len(base))
            op = rng.randrange(3)
            if op == 0:
                base[i] = rng.randrange(256)
            elif op == 1:
                del base[i]
            else:
                base.insert(i, rng.randrange(32, 127))
        _assert_same(bytes(base))


def test_interning_shared():
    """Names from the C path intern into the SAME cache as Python's."""
    v1 = cos.parse_object(Raw(b"/InterningProbeXyz"))
    v2 = cos._parse_object_py(Raw(b"/InterningProbeXyz"))
    assert v1 is v2


def test_deep_nesting_no_recursion_error():
    # both scanners are stack-machine based — parse depth is bounded by
    # input, not the interpreter stack (produce() IS recursive, so the
    # equality check stays under the Python recursion limit)
    deep = b"[" * 4000 + b"]" * 4000
    v = cos.parse_object(Raw(deep))
    p = cos._parse_object_py(Raw(deep))
    d = 0
    while isinstance(v, list) and v:
        assert isinstance(p, list) and len(p) == len(v) == 1
        v, p = v[0], p[0]
        d += 1
    assert v == [] == p and d == 3999


def test_chash_parity():
    """_chash.hash_2b (OpenSSL EVP) vs the pure-Python Algorithm 2.B
    body — bit-identical over assorted pwd/salt/udata shapes."""
    from pdfspark.kernel import crypt

    if crypt._CHASH is None:
        pytest.skip("C hash not available in this env")
    import hashlib

    def py_hash_2b(pwd, salt, udata):
        k = hashlib.sha256(pwd + salt + udata).digest()
        i = 0
        while True:
            k1 = (pwd + k + udata) * 64
            e = crypt._aes_cbc(k[:16], k[16:32], k1, decrypt=False)
            mod = sum(e[:16]) % 3
            k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[mod](e).digest()
            i += 1
            if i >= 64 and e[-1] <= i - 32:
                return k[:32]

    rng = random.Random(0x2B)
    cases = [
        (b"", b"12345678", b""),
        (b"user", b"\x00" * 8, b""),
        (b"owner-doc", b"\xffsalt\xff!!", b"U" * 48),
        (bytes(rng.randrange(256) for _ in range(127)), b"abcdefgh", b"x" * 48),
    ]
    for _ in range(10):
        cases.append((
            bytes(rng.randrange(256) for _ in range(rng.randrange(0, 128))),
            bytes(rng.randrange(256) for _ in range(8)),
            bytes(rng.randrange(256) for _ in range(rng.choice([0, 48]))),
        ))
    for pwd, salt, udata in cases:
        assert crypt._CHASH.hash_2b(pwd, salt, udata) == py_hash_2b(pwd, salt, udata)


def test_chash_rc4_aes_parity():
    """r5: _chash.rc4 (plain-C KSA+PRGA) and _chash.aes_cbc
    (prefetched EVP) vs the `cryptography` wrapper and the pure-Python
    RC4 — byte-identical over random keys/lengths both directions."""
    from pdfspark.kernel import crypt

    if crypt._CHASH is None or not hasattr(crypt._CHASH, "rc4"):
        pytest.skip("C crypt fast paths not available in this env")
    from cryptography.hazmat.decrepit.ciphers.algorithms import ARC4
    from cryptography.hazmat.primitives.ciphers import (
        Cipher, algorithms, modes,
    )

    def rc4_py(key, data):  # the crypt.rc4 fallback body, verbatim
        s = list(range(256))
        j = 0
        for i in range(256):
            j = (j + s[i] + key[i % len(key)]) % 256
            s[i], s[j] = s[j], s[i]
        out = bytearray(len(data))
        i = j = 0
        for k, c in enumerate(data):
            i = (i + 1) % 256
            j = (j + s[i]) % 256
            s[i], s[j] = s[j], s[i]
            out[k] = c ^ s[(s[i] + s[j]) % 256]
        return bytes(out)

    rng = random.Random(0xC4)
    for _ in range(60):
        k = bytes(rng.randrange(256) for _ in range(rng.choice([5, 8, 16, 32])))
        d = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 400)))
        ref = Cipher(ARC4(k), mode=None).encryptor().update(d)
        assert crypt._CHASH.rc4(k, d) == ref == rc4_py(k, d)
    for _ in range(30):  # arbitrary PDF key lengths (e.g. 10-byte RC4)
        k = bytes(rng.randrange(256) for _ in range(rng.randrange(1, 64)))
        d = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 200)))
        assert crypt._CHASH.rc4(k, d) == rc4_py(k, d)
    for _ in range(40):
        k = bytes(rng.randrange(256) for _ in range(rng.choice([16, 32])))
        iv = bytes(rng.randrange(256) for _ in range(16))
        d = bytes(rng.randrange(256) for _ in range(16 * rng.randrange(0, 20)))
        for dec in (False, True):
            c = Cipher(algorithms.AES(k), modes.CBC(iv))
            op = c.decryptor() if dec else c.encryptor()
            ref = op.update(d) + op.finalize()
            assert crypt._CHASH.aes_cbc(k, iv, d, dec) == ref


def test_ctok_lzw_encode_parity():
    """r5: _ctok.lzw_encode vs the pure-Python encoder — byte-identical
    across repeat-heavy, random, and table-overflow (12-bit clear)
    corpora; all outputs roundtrip through lzw_decode."""
    from pdfspark.kernel import filters

    if filters._CTOK_LZW_ENC is None:
        pytest.skip("C lzw_encode not available in this env")
    rng = random.Random(0x17)
    cases = [
        b"", b"a", b"ab" * 4000,
        bytes(rng.randrange(256) for _ in range(20000)),
        b"the quick brown fox " * 500,
        bytes([1, 2, 3]) * 30000,  # drives the table past 12 bits
    ]
    for _ in range(80):
        n = rng.randrange(0, 3000)
        alpha = rng.randrange(2, 30)
        cases.append(bytes(rng.randrange(alpha) for _ in range(n)))
    for c in cases:
        enc_c = filters._CTOK_LZW_ENC(c)
        assert enc_c == filters._lzw_encode_py(c)
        assert filters.lzw_decode(enc_c) == c


def test_ctok_hostile_callback_safety():
    """r5 hardening: the C produce/serialize_objs surfaces must stay
    memory-safe under hostile callbacks — a name_fn that mutates the
    caller's items list mid-iteration (use-after-free without the
    snapshot) and one that returns non-bytes (heap overread without
    the type check) both previously crashed the interpreter."""
    import gc

    from pdfspark.kernel import cos
    from pdfspark.kernel.cos import Name

    if cos._CTOK_SERIALIZE_OBJS is None:
        pytest.skip("C serializer not available in this env")

    items = [(i, Name(f"X{i}")) for i in range(50)]
    fired = []

    def mutating(k):
        if not fired:
            fired.append(1)
            items.clear()
        return cos._produce_name_key(k)

    out, offs = cos._CTOK_SERIALIZE_OBJS(items, b"\n", 0, mutating, {})
    gc.collect()
    assert len(offs) == 50 and out.count(b"endobj") == 50

    with pytest.raises(TypeError):
        cos._CTOK_PRODUCE(Name("Foo"), lambda k: "/Foo", {})

    # r6 hardening: a callback mutating the CONTAINER currently being
    # serialized (dict or list) — PyDict_Next / PyList_GET_ITEM over a
    # mutating container was the remaining UB path
    from pdfspark.kernel.cos import CDict

    d = CDict({f"K{i}": i for i in range(50)})
    fired_d = []

    def dict_mutating(k):
        if not fired_d:
            fired_d.append(1)
            d.clear()
        return cos._produce_name_key(k)

    out = cos._CTOK_PRODUCE(d, dict_mutating, {})
    gc.collect()
    assert out.count(b"/K") == 50  # snapshot serialized every entry

    lst = [CDict({"A": 1}) for _ in range(50)]
    fired_l = []

    def list_mutating(k):
        if not fired_l:
            fired_l.append(1)
            lst.clear()
        return cos._produce_name_key(k)

    out = cos._CTOK_PRODUCE(lst, list_mutating, {})
    gc.collect()
    assert out.count(b"/A") == 50


def test_ctok_serialize_objs_parity():
    """r5: _ctok.serialize_objs (fused body emission) vs the Python
    per-object loop — whole-payload BYTE equality across every
    structural variant (the assembler output is the parity surface)."""
    import hashlib as _hl

    from pdfspark.codec import build_pdf, synth_spans_py, variant_for
    from pdfspark.kernel import cos

    if cos._CTOK_SERIALIZE_OBJS is None:
        pytest.skip("C serialize_objs not available in this env")

    def corpus():
        out = []
        for i in range(40):
            txt = _hl.md5(f"so{i}".encode()).hexdigest() * (2 + i % 9)
            spans = synth_spans_py(str(i), txt)
            for mode in ("mixed", "objstream", "incremental",
                         "encrypted", "cjk:embedded", "filters_rotate"):
                out.append(build_pdf(str(i), spans, variant_for(i, mode)))
        return out

    with_c = corpus()
    fn = cos._CTOK_SERIALIZE_OBJS
    cos._CTOK_SERIALIZE_OBJS = None
    try:
        without_c = corpus()
    finally:
        cos._CTOK_SERIALIZE_OBJS = fn
    assert with_c == without_c


def _spans_bits(spans):
    """Span tuples with floats replaced by their IEEE bit patterns —
    the geometry oracle hashes values, so C-vs-Python parity must be
    BIT equality (0.0 vs -0.0 is a failure), not ==."""
    import struct

    out = []
    for sp in spans:
        out.append(
            tuple(
                struct.pack(">d", v) if isinstance(v, float) else v
                for v in sp
            )
        )
    return out


class _force_python:
    """Temporarily clear every `_CTOK_*` hook of the codec and kernel
    modules (not the `_ctok` module itself, `codec._CTOK_MOD`), so the
    same process can run the authoritative pure-Python side."""

    def __enter__(self):
        from pdfspark import codec
        from pdfspark.kernel import docmodel, filters, textops, xref

        self._saved = [
            (m, k, v)
            for m in (codec, cos, docmodel, filters, textops, xref)
            for k, v in vars(m).items()
            if k.startswith("_CTOK_") and k != "_CTOK_MOD"
        ]
        for m, k, _ in self._saved:
            setattr(m, k, None)

    def __exit__(self, *exc):
        for m, k, v in self._saved:
            setattr(m, k, v)


def test_interpreter_parity_whole_documents():
    """Full-document differential: geometry-widened extraction with
    every C hook ON vs OFF must agree bit-for-bit across all structural
    variants (the r4 fused interpreter + parse_indirect + cmap/table
    helpers at once)."""
    from pdfspark.codec import build_pdf, synth_spans_py, variant_for
    from pdfspark.kernel import textops
    from pdfspark.kernel.extract import extract_spans_doc

    if textops._CTOK_INTERP is None:
        pytest.skip("C interpreter not available")
    for i in range(36):
        doc_id = f"ipar{i}"
        text = ("lorem ipsum dolor sit amet, consectetur " * (i + 1))[
            : 40 + i * 17
        ]
        mode = (
            "mixed", "filters_rotate", "encrypted", "cjk", "forms",
            "cjk:embedded",
        )[i % 6]
        variant = (
            variant_for(i, mode) if mode in ("mixed", "filters_rotate") else mode
        )
        payload = build_pdf(doc_id, synth_spans_py(doc_id, text), variant)
        c = extract_spans_doc(payload, geometry=True)
        with _force_python():
            py = extract_spans_doc(payload, geometry=True)
        assert _spans_bits(c) == _spans_bits(py), variant


def _interp_both(payload: bytes, tj_kerning: bool = False):
    from pdfspark.kernel import textops

    def run():
        try:
            return _spans_bits(
                textops.interpret_content(payload, None, None,
                                          tj_kerning=tj_kerning)
            )
        except EParseError:
            return "EParseError"

    c = run()
    with _force_python():
        py = run()
    return c, py


def test_interpreter_parity_mutation_fuzz():
    """Seeded mutation fuzz straight at the interpreter (no resources:
    default font, Do resolves to nothing) — state machine, matrix math,
    PERMISSIVE stray handling and error classes must all agree."""
    from pdfspark.kernel import textops

    if textops._CTOK_INTERP is None:
        pytest.skip("C interpreter not available")
    seeds = [
        b"BT /F1 12 Tf 0.25 Tc 0.5 Tw 100 Tz 10 700 Td (ab c) Tj ET",
        b"q 2 0 0 2 5 5 cm BT 1 0 0 1 10 20 Tm [(a) -250 (b)] TJ ET Q",
        b"BT 14 TL 10 700 Td (x) ' 2 1 (y z) \" T* (w) Tj ET",
        b"BT /F 8 Tf (s1) Tj ET BI /W 8 ID \xff\x00 EI BT (s2) Tj ET",
        # binary image data CONTAINING the bytes EI: only the
        # ws-delimited EI terminates (r4 token-boundary rule)
        b"BI ID xxEIxx\x00EI\xff EI (t) Tj BI ID noEOD",
        b"/Im1 Do q 100 0 0 50 10 720 cm /Im2 Do Q BT <4142> Tj ET",
        b"BT 1 2 3 4 5 6 Tm (k) Tj -9999999999999999999 0 Td (m) Tj ET",
        b"BT 9223372036854775807 0 Td (m) Tj " + b"9" * 400 + b" Tc ET",
    ]
    for s in seeds:
        c, py = _interp_both(s)
        assert c == py, s
        c, py = _interp_both(s, tj_kerning=True)
        assert c == py, (s, "tj_kerning")
    rng = random.Random(0x1F4)
    for _ in range(300):
        base = bytearray(rng.choice(seeds))
        for _ in range(rng.randrange(1, 4)):
            i = rng.randrange(len(base))
            op = rng.randrange(3)
            if op == 0:
                base[i] = rng.randrange(256)
            elif op == 1:
                del base[i]
            else:
                base.insert(i, rng.randrange(32, 127))
        payload = bytes(base)
        c, py = _interp_both(payload, tj_kerning=bool(rng.randrange(2)))
        assert c == py, payload[:100]


def test_cmap_codes_w_parity():
    """C code-space tokenizer vs the Python byte-interval loop."""
    from pdfspark.kernel import textops

    if textops._CTOK_CMAP_CODES is None:
        pytest.skip("C cmap tokenizer not available")
    cm = textops.EmbeddedCMap()
    cm.ranges = [
        (1, b"\x00", b"\x7f"),
        (2, b"\x81\x40", b"\xfe\xfe"),
        (2, b"\xa1\xa1", b"\xa9\xfe"),
    ]
    rng = random.Random(0xC0DE)
    cases = [b"", b" ", b"\x80", b"\x81\x41", b"\xff", b"abc \x81\x40z"]
    cases += [
        bytes(rng.randrange(256) for _ in range(rng.randrange(0, 40)))
        for _ in range(200)
    ]
    for raw in cases:
        c = textops._CTOK_CMAP_CODES(raw, cm.ranges)
        with _force_python():
            py = cm.codes_w(raw)
        assert c == py, raw


def test_parse_indirect_parity():
    """C fused seek+verify+parse vs the Python try_read_id path:
    value on verified header, None on every mismatch class."""
    pi = getattr(cos._CTOK, "parse_indirect", None)
    if pi is None:
        pytest.skip("C parse_indirect not available")

    def py_mirror(data, off, num):
        r = Raw(data)
        if off < 0 or off > len(data):
            return None
        r.pos = off
        r.skip_ws_and_comments()
        got = cos.try_read_id(r)
        if got is None or got[2] != b"obj" or got[0] != num:
            return None
        return cos.produce(cos._parse_object_py(r, None))

    cases = [
        (b"7 0 obj << /A 1 >> endobj", 0, 7),
        (b"  % c\n 7 0 obj [1 2 3] endobj", 0, 7),
        (b"7 0 obj (x) endobj", 0, 8),      # wrong id → None
        (b"7 0 R", 0, 7),                    # R, not obj → None
        (b"junk 7 0 obj null endobj", 0, 7), # not a digit at offset
        (b"7 0 obj null endobj", 99, 7),     # offset out of range
        (b"70obj null", 0, 70),              # no ws between tokens
        (b"7 0 obj<</K 1>>endobj", 0, 7),    # obj abuts <<
    ]
    for data, off, num in cases:
        c = pi(data, off, num, None, False)
        py = py_mirror(data, off, num)
        c_cmp = None if c is None else cos.produce(c)
        assert c_cmp == py, (data, c_cmp, py)


def test_content_lexer_parity():
    """_ctok.lex_content vs textops._lex_content_py: identical event
    streams over generator-made content + seeded mutations."""
    from pdfspark.kernel import textops

    if not hasattr(cos._CTOK, "lex_content"):
        pytest.skip("C content lexer not available")
    lex_c = cos._CTOK.lex_content

    def run(fn, payload):
        try:
            return list(fn(payload))
        except EParseError:
            return "EParseError"

    from pdfspark.codec import _content_for, synth_spans_py

    spans = synth_spans_py("lexp", "alpha beta gamma delta epsilon " * 30)
    body, _ = _content_for(
        spans, {m: f"Im{i}" for i, (k, _t, m, _o) in enumerate(spans) if k == "media"}
    )
    seeds = [
        body,
        b"BI /W 8 ID \xff\x00garbage EI q 1 0 0 1 0 0 cm (s) Tj",
        b"BI ID binEIbin\x00EI. EI (lex) Tj",
        b"[1 (a) /N <0aff> [2 3]] TJ << /P /V >> BDC 4.5.6 x ET",
    ]
    assert run(lex_c, body) == run(textops._lex_content_py, body)
    rng = random.Random(0x1E)
    for _ in range(300):
        base = bytearray(rng.choice(seeds))
        for _ in range(rng.randrange(1, 4)):
            i = rng.randrange(len(base))
            op = rng.randrange(3)
            if op == 0:
                base[i] = rng.randrange(256)
            elif op == 1:
                del base[i]
            else:
                base.insert(i, rng.randrange(32, 127))
        payload = bytes(base)
        assert run(lex_c, payload) == run(
            textops._lex_content_py, payload
        ), payload[:100]


def test_parse_xref_table_fast_path():
    """C classic-table pass: strict tables parse to the same entries
    the Python path produces; every anomaly class returns None (the
    all-or-nothing contract)."""
    pt = getattr(cos._CTOK, "parse_xref_table", None)
    if pt is None:
        pytest.skip("C xref table parser not available")
    strict = (
        b"3 2\n"
        b"0000000017 00000 n \n"
        b"0000000081 00001 n \n"
        b"7 1\n"
        b"0000000000 65535 f \n"
    )
    rows, endpos = pt(strict, 0)
    assert rows == [(3, 0, 17), (4, 1, 81)]
    assert endpos == len(strict)
    # CRLF row EOL + flag directly at 17
    crlf = b"1 1\r\n0000000099 00000 n\r\n"
    assert pt(crlf, 0) == ([(1, 0, 99)], len(crlf))
    # anomalies → None: broken-first-free, garbage digits, short
    # block, unknown flag, ragged geometry
    assert pt(b"1 1\n0000000000 65535 f \n", 0) is None
    assert pt(b"1 1\nxxxxxxxxxx 00000 n \n", 0) is None
    assert pt(b"1 2\n0000000017 00000 n \n", 0) is None
    assert pt(b"1 1\n0000000017 00000 q \n", 0) is None
    assert pt(b"1 1\n0000000017  0000 n \n", 0) is None
    # no subsection at all → empty success (trailer next)
    assert pt(b"trailer << >>", 0) == ([], 0)


def test_lzw_decode_parity():
    """C LZW decoder vs the Python loop: results AND error classes
    over valid round trips, mutated streams, and random garbage."""
    from pdfspark.kernel import filters as Fl

    if getattr(cos._CTOK, "lzw_decode", None) is None:
        pytest.skip("C lzw not available")
    rng = random.Random(0x12A)

    def run(fn, d):
        try:
            return ("ok", fn(d))
        except Exception as e:
            return (type(e).__name__, str(e))

    for _ in range(800):
        n = rng.randrange(0, 300)
        if rng.randrange(3) < 2:
            raw = bytes(rng.choice(b"abcdXYZ\x00\xff") for _ in range(n))
            d = Fl.lzw_encode(raw)
            if rng.randrange(4) == 0:
                d = bytearray(d)
                for _ in range(rng.randrange(1, 4)):
                    if d:
                        d[rng.randrange(len(d))] = rng.randrange(256)
                d = bytes(d)
        else:
            d = bytes(rng.randrange(256) for _ in range(n))
        assert run(cos._CTOK.lzw_decode, d) == run(Fl._lzw_decode_py, d), d[:40]
    # 10-12 bit code widths + table growth
    big = b"the quick brown fox jumps over the lazy dog " * 300
    enc = Fl.lzw_encode(big)
    assert cos._CTOK.lzw_decode(enc) == Fl._lzw_decode_py(enc) == big


def test_produce_parity():
    """C serializer vs the Python accumulator: byte-identical over
    random COS trees and float edge cases; exotic values fall back."""
    if cos._CTOK_PRODUCE is None:
        pytest.skip("C produce not available")
    from pdfspark.kernel.cos import (
        CDict, COS_NULL, CStream, CString, Name, Ref,
    )

    rng = random.Random(77)

    def rand_val(d=0):
        c = rng.randrange(9 if d < 3 else 6)
        if c == 0:
            return (
                rng.randrange(-10**12, 10**12)
                if rng.randrange(4)
                else rng.randrange(-10**25, 10**25)
            )
        if c == 1:
            return rng.random() * 2000 - 1000
        if c == 2:
            return Name("Nm" + "#( z"[rng.randrange(4)] + str(rng.randrange(50)))
        if c == 3:
            return CString(
                bytes(rng.randrange(256) for _ in range(rng.randrange(25))),
                force_hex=bool(rng.randrange(2)),
            )
        if c == 4:
            return Ref(rng.randrange(1, 99999), rng.randrange(4))
        if c == 5:
            return rng.choice([True, False, COS_NULL])
        if c == 6:
            return [rand_val(d + 1) for _ in range(rng.randrange(5))]
        if c == 7:
            dd = CDict()
            for _ in range(rng.randrange(5)):
                dd[Name("K" + str(rng.randrange(25)))] = rand_val(d + 1)
            return dd
        dd = CDict()
        dd[Name("Length")] = 3
        return CStream(dd, bytes(rng.randrange(256) for _ in range(3)))

    for _ in range(2000):
        v = rand_val()
        assert cos.produce(v) == cos._produce_py_top(v)
    for f in (0.0, -0.0, 1.5, -123.456789, 1e-7, 123456789.123456, 1e20):
        assert cos.produce(f) == cos._produce_py_top(f)
    # deep tree: C bails at its depth guard, the fallback serves
    deep = [0]
    for _ in range(800):
        deep = [deep]
    assert cos.produce(deep) == cos._produce_py_top(deep)


def test_emit_content_parity_fuzz():
    """r6: C content emitter (structural fast path) vs the Python
    _content_for_py loop — byte equality over seeded random spans
    incl. CID-routed text, WinAnsi extras, parens/escapes, media."""
    import random

    from pdfspark import codec

    if codec._CTOK_EMIT_CONTENT is None:
        pytest.skip("C emitter not available in this env")
    random.seed(42)
    pools = [
        "ascii with (parens) \\ and\nnewline\rcr",
        "簡体字テキスト",
        "€™œŠž–—…‘’“”",
        "mixedASCII字",
        "a",
    ]
    for trial in range(1200):
        spans = []
        for k in range(random.randint(0, 9)):
            if random.random() < 0.3:
                spans.append(("media", None, f"m{trial}:{k}", k))
            else:
                t = "".join(
                    random.choice(random.choice(pools))
                    if random.random() < 0.7
                    else chr(random.randint(32, 0x2500))
                    for _ in range(random.randint(0, 40))
                )
                spans.append(("text", None if random.random() < 0.05 else t,
                              None, k))
        img = {m: f"Im{i}" for i, (kk, _t, m, _o) in enumerate(spans)
               if kk == "media"}
        assert codec._content_for(spans, img) == codec._content_for_py(
            spans, img
        ), (trial, spans)


def test_emit_content_surrogate_fallback():
    """Lone surrogates make the C emitter punt (return None) so the
    Python twin raises the same UnicodeEncodeError either way."""
    from pdfspark import codec

    if codec._CTOK_EMIT_CONTENT is None:
        pytest.skip("C emitter not available in this env")
    spans = [("text", "bad \udc80 surrogate", None, 0)]
    assert codec._CTOK_EMIT_CONTENT(spans, {}, codec._winansi_tab()) is None


def test_generation_payload_parity_c_vs_python():
    """Whole-payload byte parity: every structural variant built with
    all r6 C emitters enabled vs all disabled."""
    import hashlib

    from pdfspark import codec
    from pdfspark.codec import build_pdf, synth_spans_py, variant_for

    if codec._CTOK_EMIT_CONTENT is None:
        pytest.skip("C emitter not available in this env")
    for i in range(40):
        did = f"egp{i:04d}"
        text = hashlib.md5(did.encode()).hexdigest() * ((i % 9) + 1)
        spans = synth_spans_py(did, text)
        for mode in ("mixed", "filters_rotate"):
            v = variant_for(i, mode)
            p1 = build_pdf(did, spans, v)
            saved = (codec._CTOK_EMIT_CONTENT, codec._CTOK_EMIT_XREF,
                     codec._CTOK_EMIT_XREF_ROWS)
            codec._CTOK_EMIT_CONTENT = None
            codec._CTOK_EMIT_XREF = None
            codec._CTOK_EMIT_XREF_ROWS = None
            try:
                p2 = build_pdf(did, spans, v)
            finally:
                (codec._CTOK_EMIT_CONTENT, codec._CTOK_EMIT_XREF,
                 codec._CTOK_EMIT_XREF_ROWS) = saved
            assert p1 == p2, (did, v)


def test_walk_pages_structural_parity_whole_documents():
    """The C page-tree walk (and every other C hook) ON vs OFF must
    agree on spans, metadata, and every PageInfo field across all
    structural variants — objstream → compressed members, incremental
    → gen precedence, encrypted → active security handler."""
    from pdfspark.codec import build_pdf, synth_spans_py, variant_for
    from pdfspark.kernel import docmodel
    from pdfspark.kernel.extract import (
        extract_meta, extract_spans, parse_document,
    )

    if docmodel._CTOK_WALK is None:
        pytest.skip("C page walk not available")
    modes = (
        "mixed", "filters_rotate", "encrypted", "cjk", "forms",
        "cjk:embedded", "objstream", "incremental", "type3",
    )
    for i in range(27):
        doc_id = f"xres{i}"
        text = ("resolver parity fixture text " * (i + 1))[: 60 + i * 13]
        mode = modes[i % len(modes)]
        variant = (
            variant_for(i, mode) if mode in ("mixed", "filters_rotate") else mode
        )
        payload = build_pdf(doc_id, synth_spans_py(doc_id, text), variant)
        c_spans = extract_spans(payload)
        c_meta = extract_meta(payload)
        c_pages = [
            (
                p.obj_num, p.media_box, p.crop_box, p.rotate,
                len(p.contents),
                sorted(p.resources) if p.resources else None,
            )
            for p in parse_document(payload).pages()
        ]
        with _force_python():
            py_spans = extract_spans(payload)
            py_meta = extract_meta(payload)
            py_pages = [
                (
                    p.obj_num, p.media_box, p.crop_box, p.rotate,
                    len(p.contents),
                    sorted(p.resources) if p.resources else None,
                )
            for p in parse_document(payload).pages()
            ]
        assert c_spans == py_spans, variant
        assert c_meta == py_meta, variant
        assert c_pages == py_pages, variant


def test_resolve_edge_semantics():
    """Parser._resolve's contract: missing object → COS_NULL
    (uncached), junk argument → AttributeError (the `ref.num` access),
    every object identical with and without the C hooks."""
    from pdfspark.codec import build_pdf, synth_spans_py
    from pdfspark.kernel.cos import COS_NULL, Ref
    from pdfspark.kernel.xref import Parser

    payload = build_pdf("xre0", synth_spans_py("xre0", "edge text"), "classic")
    p = Parser(payload)
    p.parse()
    # missing id → COS_NULL, and it must NOT be cached
    assert p._resolve(Ref(999999, 0)) is COS_NULL
    assert 999999 not in p.xref.cache
    # non-Ref argument → AttributeError (matches `ref.num` access)
    with pytest.raises(AttributeError):
        p._resolve("not a ref")
    # parity of every resolved object against the pure-Python parser
    with _force_python():
        p2 = Parser(payload)
        p2.parse()
        all_py = p2.parse_all_objects()
    for num, v in p.parse_all_objects().items():
        assert repr(v) == repr(all_py[num]), num


def test_walk_pages_error_contract(caplog):
    """C walk twin of the Python DFS error paths: kid-not-a-reference,
    page-tree-too-deep and node-visited-twice raise EParseError with
    the same messages; a /Pages node without /Kids logs the
    structure event."""
    from pdfspark.kernel import docmodel
    from pdfspark.kernel.cos import CDict, Name, Ref

    if docmodel._CTOK_WALK is None:
        pytest.skip("C extension not available")

    def pages_node(*kids):
        return CDict({Name("Type"): Name("Pages"),
                      Name("Kids"): [Ref(k, 0) for k in kids]})

    # kid is not a reference
    bad = CDict({Name("Type"): Name("Pages"), Name("Kids"): [42]})
    with pytest.raises(EParseError, match="not a reference"):
        docmodel._CTOK_WALK(bad, 1, lambda r: CDict())
    # kid resolves to a non-dict
    bad2 = CDict({Name("Type"): Name("Pages"), Name("Kids"): [Ref(2, 0)]})
    with pytest.raises(EParseError, match="is not a dictionary"):
        docmodel._CTOK_WALK(bad2, 1, lambda r: 7)
    # a 70-level chain of distinct nodes → depth cap
    chain = {k: pages_node(k + 1) for k in range(1, 71)}
    chain[71] = CDict({Name("Type"): Name("Page")})
    with pytest.raises(EParseError, match="too deep"):
        docmodel._CTOK_WALK(chain[1], 1, lambda r: chain[r.num])
    # self-referential tree → the root is visited twice
    loop = pages_node(1)
    with pytest.raises(EParseError, match="visited twice"):
        docmodel._CTOK_WALK(loop, 1, lambda r: loop)
    # kids shared between levels (2^12 leaves if expanded) → the
    # second visit of the first shared node raises
    shared = {k: pages_node(k + 1, k + 1) for k in range(1, 13)}
    shared[13] = CDict({Name("Type"): Name("Page")})
    with pytest.raises(EParseError, match="visited twice"):
        docmodel._CTOK_WALK(shared[1], 1, lambda r: shared[r.num])
    # /Pages without /Kids → soft event, zero pages
    nk = CDict({Name("Type"): Name("Pages")})
    with _soft_events(caplog) as soft:
        rows = docmodel._CTOK_WALK(nk, 1, lambda r: CDict())
    assert rows == [] and soft == [("structure", "/Pages node without /Kids")]
    # kid numbers beyond int64 (corrupt-file territory) must flow
    # through like the Python walk's unbounded ints — never an
    # overflow with a swallowed error
    big = 1 << 70
    big_store = {
        1: CDict({Name("Type"): Name("Pages"), Name("Kids"): [Ref(big, 0)]}),
        big: CDict({Name("Type"): Name("Page")}),
    }
    rows = docmodel._CTOK_WALK(big_store[1], 1, lambda r: big_store[r.num])
    assert [r[0] for r in rows] == [big]


def test_walk_pages_inheritance_parity():
    """Copy-on-write inheritance down a crafted 3-level tree: the C
    walk and the Python walk yield identical PageInfo rows (boxes,
    resources, rotate, contents) including override-at-leaf and
    Ref-valued inheritable attributes."""
    from pdfspark.kernel import docmodel
    from pdfspark.kernel.cos import CDict, CStream, Name, Ref

    if docmodel._CTOK_WALK is None:
        pytest.skip("C extension not available")

    box_a = [0, 0, 612, 792]
    box_b = [0.0, 0.0, 200.5, 100.25]
    res_d = CDict({Name("Font"): CDict()})
    stream = CStream(CDict(), b"BT ET")
    store = {
        10: CDict({Name("Type"): Name("Pages"),
                   Name("MediaBox"): box_a,
                   Name("Resources"): Ref(20, 0),
                   Name("Kids"): [Ref(11, 0), Ref(12, 0)]}),
        # interior node overrides Rotate; no /Type but has /Kids
        11: CDict({Name("Rotate"): 90, Name("Kids"): [Ref(13, 0)]}),
        # leaf overrides MediaBox with floats, inherits the rest
        12: CDict({Name("Type"): Name("Page"),
                   Name("MediaBox"): box_b,
                   Name("Contents"): Ref(30, 0)}),
        13: CDict({Name("Type"): Name("Page"),
                   Name("Contents"): [Ref(30, 0), Ref(31, 0), Ref(99, 0)]}),
        20: res_d,
        30: stream,
        31: CStream(CDict(), b"q Q"),
        99: CDict(),  # non-stream content member → dropped
    }

    def resolver(ref):
        from pdfspark.kernel.cos import COS_NULL

        return store.get(ref.num, COS_NULL)

    rows = docmodel._CTOK_WALK(store[10], 10, resolver)
    assert [r[0] for r in rows] == [13, 12]  # DFS order
    n13, n12 = rows
    assert n13[1] is box_a and n13[3] is res_d and n13[5] == 90
    assert len(n13[4]) == 2  # the non-stream member dropped
    assert n12[1] is box_b and n12[3] is res_d and n12[5] == 0
    assert n12[4] == [stream]
