"""Standard security handler (kernel/crypt.py) — an extension past
the reference (README.md:5: no decryption): RC4 V2/R3, AES-128
V4/R4/AESV2, empty-user-password auto-unlock, passworded error
bucket (M10 policy)."""

from __future__ import annotations

import pytest

from pdfspark.codec import build_pdf, synth_spans_py
from pdfspark.kernel import extract_meta, extract_spans, parse_document
from pdfspark.kernel.crypt import (
    StandardSecurityHandler,
    aes_decrypt,
    aes_encrypt,
    build_handler,
    rc4,
)

TEXT = "the quick brown fox jumps over the lazy dog " * 8


def _spans(doc_id: str):
    return synth_spans_py(doc_id, TEXT)


def _expected(doc_id: str):
    return [(k, t, m, i) for i, (k, t, m, _o) in enumerate(_spans(doc_id))]


def test_rc4_known_vector():
    # public RC4 test vector (RFC 6229 family): Key/Plaintext from
    # the original Usenet posting
    assert rc4(b"Key", b"Plaintext").hex() == "bbf316e8d940af0ad3"
    assert rc4(b"Wiki", b"pedia").hex() == "1021bf0420"


def test_aes_roundtrip_and_padding():
    key = bytes(range(16))
    iv = bytes(range(100, 116))
    for n in (0, 1, 15, 16, 17, 100):
        data = bytes((i * 7) % 256 for i in range(n))
        ct = aes_encrypt(key, iv, data)
        assert ct[:16] == iv and len(ct) % 16 == 0 and len(ct) > len(data)
        assert aes_decrypt(key, ct) == data


@pytest.mark.parametrize("aes", [False, True])
def test_handler_auth_and_object_roundtrip(aes):
    h = build_handler(
        r=4 if aes else 3, owner_pwd=b"owner", user_pwd=b"", p=-44,
        file_id0=b"\x01" * 8, length_bits=128, aes=aes,
    )
    h2 = StandardSecurityHandler(
        v=h.v, r=h.r, o=h.o, u=h.u, p=h.p, file_id0=b"\x01" * 8,
        length_bits=128, stm_cfm=h.stm_cfm, str_cfm=h.str_cfm,
    )
    assert h2.authenticate(b"wrong") is False
    assert h2.authenticate(b"") is True
    blob = b"stream payload bytes" * 9
    assert h2.decrypt(h.encrypt(blob, 7, 0, False), 7, 0, False) == blob
    # a different object number must NOT decrypt (per-object keys)
    assert h2.decrypt(h.encrypt(blob, 7, 0, False), 8, 0, False) != blob


def test_aes256_handler_roundtrip():
    from pdfspark.kernel.crypt import build_handler_v5, handler_from_dict

    h = build_handler_v5(owner_pwd=b"own", user_pwd=b"", p=-44, seed=b"s1")
    h2 = StandardSecurityHandler(
        v=5, r=6, o=h.o, u=h.u, p=-44, file_id0=b"", length_bits=256,
        stm_cfm="AESV3", str_cfm="AESV3", oe=h.oe, ue=h.ue,
    )
    assert h2.authenticate(b"wrong") is False and h2.key is None
    assert h2.authenticate(b"") is True
    assert h2.key == h.key and len(h2.key) == 32
    blob = b"aes256 stream payload" * 7
    assert h2.decrypt(h.encrypt(blob, 3, 0, False), 3, 0, False) == blob
    # owner password authenticates through the /O + /OE route
    h3 = StandardSecurityHandler(
        v=5, r=6, o=h.o, u=h.u, p=-44, file_id0=b"", length_bits=256,
        stm_cfm="AESV3", str_cfm="AESV3", oe=h.oe, ue=h.ue,
    )
    assert h3.authenticate(b"own") is True and h3.key == h.key
    _ = handler_from_dict  # parser-side parse exercised by the variant test


@pytest.mark.parametrize("doc_id", ["enc0", "enc1", "enc2", "enc3", "enc4", "enc5"])
def test_encrypted_variant_extracts(doc_id):
    """The 'encrypted' generator variant (cipher rotates rc4 / aes-128
    / aes-256 by doc hash) must roundtrip spans exactly like the
    classic layout."""
    payload = build_pdf(doc_id, _spans(doc_id), "encrypted")
    status, err, spans = extract_spans(payload)
    assert status == "ok", err
    assert spans == _expected(doc_id)


@pytest.mark.parametrize("cipher", ["rc4", "aes", "aes256"])
def test_encrypted_objstream_roundtrip(cipher):
    """PDF-1.5+ shape: /Encrypt paired with object-stream layout (the
    standard real-corpus case). The ObjStm container bytes are ciphered
    under the container's (num, gen) and must be decrypted BEFORE
    FlateDecode (the r2 advisor's repro: _get_compressed previously
    bypassed the decrypt hook → 'incorrect header check')."""
    from pdfspark.codec import _assemble_objstream, build_object_graph

    doc_id = f"encobj-{cipher}"
    g, cat, info = build_object_graph(doc_id, _spans(doc_id), ("flate",), None, None, None)
    payload = _assemble_objstream(g, cat, info, doc_id, encryption=cipher)
    status, err, spans = extract_spans(payload)
    assert status == "ok", err
    assert spans == _expected(doc_id)
    # metadata path too: /Info lives inside an encrypted ObjStm
    st, merr, meta = extract_meta(payload)
    assert st == "ok", merr
    assert meta["encrypted"] is True
    assert meta["title"] == f"doc {doc_id}"


def test_p_unsigned_writer_quirk():
    """Real writers store /P as unsigned 32-bit (4294967252 == -44);
    key derivation must use the two's-complement bit pattern for both
    spellings — and never raise struct.error."""
    h = build_handler(
        r=3, owner_pwd=b"owner", user_pwd=b"", p=-44,
        file_id0=b"\x02" * 8, length_bits=128,
    )
    h2 = StandardSecurityHandler(
        v=h.v, r=h.r, o=h.o, u=h.u, p=4294967252, file_id0=b"\x02" * 8,
        length_bits=128,
    )
    assert h2.authenticate(b"") is True
    assert h2.key == h.key
    # /Perms (AES-256 generator path) accepts the unsigned spelling too
    from pdfspark.kernel.crypt import compute_perms

    assert compute_perms(4294967252, True, bytes(32), b"s") == compute_perms(
        -44, True, bytes(32), b"s"
    )


def test_encrypted_metadata_decrypts():
    payload = build_pdf("encm", _spans("encm"), "encrypted")
    st, err, meta = extract_meta(payload)
    assert st == "ok", err
    assert meta["encrypted"] is True
    assert meta["title"] == "doc encm"  # Info strings really decrypted


def test_passworded_doc_error_bucket_and_manual_unlock():
    payload = build_pdf("pw1", _spans("pw1"), "classic", encrypted=True)
    st, err, spans = extract_spans(payload)
    assert st == "error" and "password required" in err and spans == []
    # with the right user password the same bytes unlock fine
    doc = parse_document(payload)
    assert doc.parser.unlock(b"nope") is False
    assert doc.parser.unlock(b"user-secret") is True
    # re-assemble: unlock invalidates the object cache, and Document
    # resolves /Info eagerly at construction
    from pdfspark.kernel.docmodel import Document

    title = Document(doc.parser).info_fields()["title"]
    assert title == "doc pw1"


def test_tampered_u_rejected():
    payload = build_pdf("t1", _spans("t1"), "encrypted")
    from pdfspark.kernel.cos import CString
    from pdfspark.kernel.xref import Parser

    p = Parser(payload)
    p.parse()
    enc = p.get_object(p.encrypt_ref.num, 0)
    u = enc.get("U")
    assert isinstance(u, CString)
    u.raw = bytes(32)  # corrupt /U in place before unlock
    assert p.unlock(b"") is False


@pytest.mark.parametrize("n", [0, 10, 20, 31, 32])
def test_short_ue_is_a_typed_error(n):
    """ISO 32000-2 Table 21 fixes /UE at 32 bytes. A shorter string is
    a broken document (EParseError), never a ValueError from the AES
    primitive. The cut hex is padded with spaces so no offset moves."""
    import re

    payload = build_pdf("1", _spans("1"), "encrypted")
    m = re.search(rb"/UE\s*<([0-9A-Fa-f]{64})>", payload)
    assert m is not None and b"/R 6" in payload
    cut = m.group(1)[: 2 * n].ljust(64, b" ")
    payload = payload[: m.start(1)] + cut + payload[m.end(1):]
    status, err, spans = extract_spans(payload)
    st, merr, _meta = extract_meta(payload)
    if n == 32:
        assert (status, st) == ("ok", "ok"), (err, merr)
        assert spans == _expected("1")
    else:
        assert (status, err) == ("error", "EParseError: /UE shorter than 32 bytes")
        assert (st, merr) == ("error", "EParseError: /UE shorter than 32 bytes")


def test_short_oe_is_a_typed_error():
    from pdfspark.kernel.crypt import build_handler_v5
    from pdfspark.kernel.errors import EParseError

    h = build_handler_v5(owner_pwd=b"own", user_pwd=b"", p=-44, seed=b"s1")
    h2 = StandardSecurityHandler(
        v=5, r=6, o=h.o, u=h.u, p=-44, file_id0=b"", length_bits=256,
        stm_cfm="AESV3", str_cfm="AESV3", oe=h.oe[:20], ue=h.ue,
    )
    with pytest.raises(EParseError, match="/OE shorter than 32 bytes"):
        h2.authenticate(b"own")


def test_aes256_r5_roundtrip_and_reject():
    """R5 (the withdrawn AES-256 interim revision, single SHA-256
    hash): empty-password docs decrypt transparently in both layouts;
    a wrong-password R5 doc still routes to the error bucket; the
    /Encrypt dict really carries /R 5."""
    from pdfspark.codec import build_pdf, synth_spans_py
    from pdfspark.kernel import extract_spans

    spans = synth_spans_py("r5a", "interim revision text " * 6)
    payload = build_pdf("r5a", spans, "classic")
    # force the R5 cipher through the variant-independent builder
    from pdfspark import codec as C

    g, cat, info = C.build_object_graph("r5a", spans)
    body = C._assemble_classic(g, cat, info, "r5a", encryption="aes256r5")
    assert b"/R 5" in body
    status, err, got = extract_spans(body)
    assert status == "ok", err
    assert got == spans
    g2, cat2, info2 = C.build_object_graph("r5a", spans)
    body2 = C._assemble_objstream(g2, cat2, info2, "r5a", encryption="aes256r5")
    status, err, got = extract_spans(body2)
    assert status == "ok", err
    assert got == spans


def test_aes256_r5_wrong_password_rejected():
    from pdfspark.kernel.crypt import build_handler_v5

    h = build_handler_v5(
        owner_pwd=b"owner-x", user_pwd=b"sekrit", p=-44, seed=b"x",
        revision=5,
    )
    assert h.r == 5
    h.key = None
    assert not h.authenticate(b"")
    assert h.authenticate(b"sekrit")
    # owner role authenticates too
    h.key = None
    assert h.authenticate(b"owner-x")


def test_pubsec_roundtrip_both_layouts():
    """Certificate-based encryption (r5, ISO 32000-1 §7.6.5): the CMS
    recipient envelope opens with the fixture identity, the SHA-1
    seed+recipients file key decrypts AESV2 objects, and extraction is
    lossless in BOTH the classic and the object-stream layout."""
    import hashlib

    from pdfspark.codec import build_pdf, synth_spans_py
    from pdfspark.kernel.extract import extract_spans

    seen_layouts = set()
    for i in range(8):
        did = f"ps{i}"
        txt = hashlib.md5(did.encode()).hexdigest() * 3
        spans = synth_spans_py(did, txt)
        payload = build_pdf(did, spans, "pubsec")
        seen_layouts.add(b"/ObjStm" in payload)
        status, err, got = extract_spans(payload)
        assert status == "ok", err
        assert got == spans
    assert seen_layouts == {True, False}  # both layouts exercised


def test_pubsec_wrong_identity_rejected():
    """A different RSA identity must NOT open the envelope; the doc
    stays in the M10 error bucket (password/identity required)."""
    import hashlib

    from cryptography.hazmat.primitives import hashes
    from cryptography.hazmat.primitives.asymmetric import rsa
    from cryptography import x509
    from cryptography.x509.oid import NameOID
    import datetime

    from pdfspark.codec import build_pdf, synth_spans_py
    from pdfspark.kernel.xref import Parser

    did = "psx"
    txt = hashlib.md5(did.encode()).hexdigest() * 3
    payload = build_pdf(did, synth_spans_py(did, txt), "pubsec")
    pr = Parser(payload)
    pr.parse()
    assert pr.unlock(b"")  # fixture identity succeeds

    pr2 = Parser(payload)
    pr2.parse()
    from pdfspark.kernel.crypt import handler_from_dict

    enc = pr2.get_object(pr2.encrypt_ref.num, pr2.encrypt_ref.gen)
    h = handler_from_dict(enc, b"")
    wrong_key = rsa.generate_private_key(public_exponent=65537, key_size=2048)
    name = x509.Name([x509.NameAttribute(NameOID.COMMON_NAME, "intruder")])
    wrong_cert = (
        x509.CertificateBuilder()
        .subject_name(name).issuer_name(name)
        .public_key(wrong_key.public_key())
        .serial_number(1)
        .not_valid_before(datetime.datetime(2020, 1, 1))
        .not_valid_after(datetime.datetime(2120, 1, 1))
        .sign(wrong_key, hashes.SHA256())
    )
    assert not h.authenticate_identity(wrong_cert, wrong_key)
    assert h.key is None


def test_pubsec_crypt_filter_length_units():
    """r6 (ADVICE): the V4 crypt-filter dict's /Length takes precedence
    over the top-level /Length, byte-unit values (<40) are normalized
    to bits, and a declared length past SHA-1's 160-bit supply raises
    a clean EParseError instead of failing deep inside AES."""
    import hashlib

    import pytest as _pytest

    from pdfspark.codec import build_pdf, synth_spans_py
    from pdfspark.kernel.cos import CDict
    from pdfspark.kernel.crypt import handler_from_dict
    from pdfspark.kernel.errors import EParseError
    from pdfspark.kernel.xref import Parser

    did = "psl"
    txt = hashlib.md5(did.encode()).hexdigest() * 3
    payload = build_pdf(did, synth_spans_py(did, txt), "pubsec")
    pr = Parser(payload)
    pr.parse()
    enc = pr.get_object(pr.encrypt_ref.num, pr.encrypt_ref.gen)
    cf = next(f for f in enc["CF"].values() if isinstance(f, CDict))

    # bytes-unit /Length in the crypt filter dict (Acrobat quirk)
    cf["Length"] = 16
    assert handler_from_dict(enc, b"").n == 16  # 16 bytes == 128 bits

    # bits-unit value passes through
    cf["Length"] = 128
    assert handler_from_dict(enc, b"").n == 16

    # > 160 bits cannot come out of the SHA-1 derivation
    cf["Length"] = 256
    with _pytest.raises(EParseError, match="160-bit"):
        handler_from_dict(enc, b"")
