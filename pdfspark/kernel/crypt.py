"""Standard security handler — RC4 + AES-128 (ISO 32000-1 §7.6.3).

The reference does NOT decrypt (README.md:5 "Encrypted documents are
not supported"); it only flags /Encrypt (M10). This module extends the
kernel past that line because encrypted-but-empty-user-password files
are the overwhelmingly common real-corpus case: V 1/2/4, R 2/3/4,
crypt filters /Identity, /V2 (RC4) and /AESV2 (AES-128-CBC).
Passworded documents still land in the error bucket (M10 policy).

All algorithms below are the public ISO 32000-1 ones:
  Algorithm 2  — file encryption key from password + /O + /P + ID
  Algorithm 3  — computing /O (owner password)
  Algorithm 4/5 — computing + verifying /U (user password, R2 / R≥3)
  Algorithm 1  — per-object key: MD5(key + num₃LE + gen₂LE [+ sAlT])

Both directions are implemented (decrypt for the parser, encrypt for
the synthetic generator) — RC4 is symmetric; AES-CBC pads PKCS#5 and
prepends the IV.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Optional

from .errors import EParseError

# 32-byte password pad, ISO 32000-1 Algorithm 2 step (a)
PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)

try:  # preferred: OpenSSL-backed primitives
    from cryptography.hazmat.decrepit.ciphers.algorithms import ARC4 as _ARC4
    from cryptography.hazmat.primitives.ciphers import Cipher as _Cipher
    from cryptography.hazmat.primitives.ciphers import algorithms as _algos
    from cryptography.hazmat.primitives.ciphers import modes as _modes

    _HAVE_CRYPTOGRAPHY = True
except Exception:  # pragma: no cover - env without `cryptography`
    _HAVE_CRYPTOGRAPHY = False

try:  # optional C fast path for Algorithm 2.B (see hash_2b)
    from .ctok import load_chash as _load_chash

    _CHASH = _load_chash()
except Exception:  # pragma: no cover - env without gcc/libcrypto
    _CHASH = None


def rc4(key: bytes, data: bytes) -> bytes:
    """RC4 stream cipher (symmetric — one function for both ways).
    C fast path (plain-C KSA+PRGA in _chash — no per-call cipher
    context churn; parity-tested); then the `cryptography` wrapper;
    then pure Python."""
    if _CHASH is not None and 1 <= len(key) <= 256:
        # the C path enforces klen <= 256; longer (nonstandard) keys
        # stay on the pure-Python fallback, which handles any length
        return _CHASH.rc4(key, data)
    if _HAVE_CRYPTOGRAPHY and 5 <= len(key) <= 256:
        # OpenSSL rejects keys under 40 bits; PDF keys are 5-16 bytes,
        # so this branch covers every spec-conformant file
        return _Cipher(_ARC4(key), mode=None).encryptor().update(data)
    # pure-Python fallback (KSA + PRGA)
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


def _aes_cbc(key: bytes, iv: bytes, data: bytes, decrypt: bool) -> bytes:
    if (
        _CHASH is not None
        and hasattr(_CHASH, "aes_cbc")
        and len(key) in (16, 32)
        and len(iv) == 16
        and len(data) % 16 == 0
        and len(data) < (1 << 31) - 32  # EVP int-length API bound;
        # larger buffers stay on the `cryptography` streaming wrapper
    ):
        # C fast path: module-init-fetched EVP ciphers, no per-call
        # provider dispatch (parity-tested vs the wrapper below)
        return _CHASH.aes_cbc(key, iv, data, decrypt)
    if not _HAVE_CRYPTOGRAPHY:
        raise EParseError("AES crypt filter requires the `cryptography` package")
    c = _Cipher(_algos.AES(key), _modes.CBC(iv))
    op = c.decryptor() if decrypt else c.encryptor()
    return op.update(data) + op.finalize()


def aes_decrypt(key: bytes, data: bytes) -> bytes:
    """AESV2 payload = 16-byte IV ‖ CBC ciphertext, PKCS#5-padded."""
    if len(data) < 32 or len(data) % 16:
        # too short / ragged — broken writer; return as-is (permissive)
        return b"" if len(data) <= 16 else data
    plain = _aes_cbc(key, data[:16], data[16:], decrypt=True)
    npad = plain[-1] if plain else 0
    return plain[:-npad] if 1 <= npad <= 16 else plain


def aes_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    npad = 16 - (len(data) % 16)
    return iv + _aes_cbc(key, iv, data + bytes([npad]) * npad, decrypt=False)


def _aes_ecb(key: bytes, data: bytes, decrypt: bool) -> bytes:
    if not _HAVE_CRYPTOGRAPHY:
        raise EParseError("AES crypt filter requires the `cryptography` package")
    c = _Cipher(_algos.AES(key), _modes.ECB())
    op = c.decryptor() if decrypt else c.encryptor()
    return op.update(data) + op.finalize()


def hash_r5(pwd: bytes, salt: bytes, udata: bytes) -> bytes:
    """R5 password hash (Adobe ExtensionLevel 3, the withdrawn interim
    AES-256 revision): one plain SHA-256 — no 2.B iteration."""
    return hashlib.sha256(pwd + salt + udata).digest()


def hash_2b(pwd: bytes, salt: bytes, udata: bytes) -> bytes:
    """ISO 32000-2 Algorithm 2.B (R6 password hash): iterated
    SHA-256/384/512 with an AES-128-CBC mixing step. The 64× repeat
    makes every K1 length a multiple of 16, so no padding is needed.

    This is an intentionally slow KDF (~3 ms/call in Python, dominated
    by per-iteration cipher-context churn) and runs ~7×/doc for an
    AES-256 file (4 generator + 2-3 parser calls) — the C fast path
    (`_chash`, kernel/_chash.c, OpenSSL EVP, bit-identical by parity
    test) takes it to ~30 µs; this body is the fallback."""
    if (
        _CHASH is not None
        and len(pwd) <= 127  # spec sizes; anything larger (malformed
        and len(salt) <= 8  # /U //O strings) stays on the fallback so
        and len(udata) <= 48  # both paths agree bit-for-bit
    ):
        return _CHASH.hash_2b(pwd, salt, udata)
    k = hashlib.sha256(pwd + salt + udata).digest()
    i = 0
    while True:
        k1 = (pwd + k + udata) * 64
        e = _aes_cbc(k[:16], k[16:32], k1, decrypt=False)
        mod = sum(e[:16]) % 3
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[mod](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


def _pad_password(pwd: bytes) -> bytes:
    return (pwd + PAD)[:32]


class StandardSecurityHandler:
    """Parsed /Encrypt (Filter /Standard) + authenticated session key.

    Construct, then call :meth:`authenticate` with a candidate user
    password (usually b"") — only after it returns True are
    :meth:`decrypt` / :meth:`encrypt_for_object` usable.
    """

    def __init__(
        self,
        *,
        v: int,
        r: int,
        o: bytes,
        u: bytes,
        p: int,
        file_id0: bytes,
        length_bits: int = 40,
        encrypt_metadata: bool = True,
        stm_cfm: str = "V2",
        str_cfm: str = "V2",
        oe: bytes = b"",
        ue: bytes = b"",
    ):
        if v not in (1, 2, 4, 5):
            raise EParseError(f"unsupported /Encrypt /V {v}")
        if r not in (2, 3, 4, 5, 6):
            raise EParseError(f"unsupported /Encrypt /R {r}")
        self.v, self.r = v, r
        self.o, self.u, self.p = o, u, p
        self.oe, self.ue = oe, ue  # V5/R5/R6 encrypted file keys
        self.file_id0 = file_id0
        if r in (5, 6):
            self.n = 32
        else:
            self.n = 5 if r == 2 else max(5, min(16, length_bits // 8))
        self.encrypt_metadata = encrypt_metadata
        self.stm_cfm = stm_cfm  # crypt filter method for streams
        self.str_cfm = str_cfm  # ... and for strings
        self.key: Optional[bytes] = None
        # Algorithm 1 memo: every string/stream of one object shares a
        # (num, gen) key — without the memo a doc pays one MD5 per
        # decrypt() call instead of one per object
        self._okey_cache: dict[tuple[int, int, bool], bytes] = {}

    # --- Algorithm 2 ----------------------------------------------------
    def _file_key(self, user_pwd: bytes) -> bytes:
        h = hashlib.md5()
        h.update(_pad_password(user_pwd))
        h.update(self.o[:32])
        # /P is defined as a SIGNED 32-bit value but real writers store
        # it unsigned (e.g. 4294967252 for -44); hash its two's-
        # complement bit pattern so both spellings derive the same key
        h.update(struct.pack("<I", self.p & 0xFFFFFFFF))
        h.update(self.file_id0)
        if self.r >= 4 and not self.encrypt_metadata:
            h.update(b"\xff\xff\xff\xff")
        digest = h.digest()
        if self.r >= 3:
            for _ in range(50):
                digest = hashlib.md5(digest[: self.n]).digest()
        return digest[: self.n]

    # --- Algorithm 4/5 (compute /U for a candidate key) ------------------
    def _compute_u(self, key: bytes) -> bytes:
        if self.r == 2:
            return rc4(key, PAD)
        digest = hashlib.md5(PAD + self.file_id0).digest()
        out = rc4(key, digest)
        # byte-wise `b ^ i` as ONE big-int XOR: i < 20 < 256 so each
        # byte lane XORs independently (no carries) — identical bytes,
        # none of the per-byte generator churn
        n = len(key)
        kint = int.from_bytes(key, "big")
        lanes = int.from_bytes(b"\x01" * n, "big")
        for i in range(1, 20):
            out = rc4((kint ^ (lanes * i)).to_bytes(n, "big"), out)
        return out  # 16 bytes; stored /U appends 16 arbitrary bytes

    def authenticate(self, user_pwd: bytes = b"") -> bool:
        if self.r in (5, 6):
            return self._authenticate_r6(user_pwd)
        key = self._file_key(user_pwd)
        u = self._compute_u(key)
        ok = u == self.u[:32] if self.r == 2 else u[:16] == self.u[:16]
        if ok:
            self.key = key
            self._okey_cache.clear()  # keys derive from self.key
        return ok

    def _authenticate_r6(self, pwd: bytes) -> bool:
        """ISO 32000-2 Algorithms 2.A / 8 / 9: /U = hash ‖ validation
        salt ‖ key salt (48 bytes); /UE = AES-256-CBC(iv=0, no pad) of
        the 32-byte file key under hash(pwd + key salt). The same
        password is tried in both the user and the owner role (owner
        hashing appends the 48-byte /U string). R5 (Adobe's withdrawn
        ExtensionLevel-3 interim revision, found in real corpora) is
        the same structure with a SINGLE SHA-256 in place of the
        iterated 2.B hash."""
        pwd = pwd[:127]
        hf = hash_2b if self.r == 6 else hash_r5
        if len(self.u) >= 48 and hf(pwd, self.u[32:40], b"") == self.u[:32]:
            ik = hf(pwd, self.u[40:48], b"")
            if len(self.ue) < 32:  # ISO 32000-2 Table 21: 32 bytes
                raise EParseError("/UE shorter than 32 bytes")
            self.key = _aes_cbc(ik, b"\x00" * 16, self.ue[:32], decrypt=True)
            return True
        if (
            len(self.o) >= 48
            and len(self.u) >= 48
            and hf(pwd, self.o[32:40], self.u[:48]) == self.o[:32]
        ):
            ik = hf(pwd, self.o[40:48], self.u[:48])
            if len(self.oe) < 32:
                raise EParseError("/OE shorter than 32 bytes")
            self.key = _aes_cbc(ik, b"\x00" * 16, self.oe[:32], decrypt=True)
            return True
        return False

    # --- Algorithm 1 ------------------------------------------------------
    def _object_key(self, num: int, gen: int, aes: bool) -> bytes:
        assert self.key is not None, "authenticate() first"
        k = self._okey_cache.get((num, gen, aes))
        if k is not None:
            return k
        h = hashlib.md5()
        h.update(self.key)
        h.update(struct.pack("<i", num)[:3])
        h.update(struct.pack("<i", gen)[:2])
        if aes:
            h.update(b"sAlT")
        k = h.digest()[: min(self.n + 5, 16)]
        self._okey_cache[(num, gen, aes)] = k
        return k

    def _cfm(self, is_string: bool) -> str:
        if self.v == 5:
            return self.str_cfm if is_string else self.stm_cfm
        if self.v != 4:
            return "V2"
        return self.str_cfm if is_string else self.stm_cfm

    def decrypt(self, data: bytes, num: int, gen: int, is_string: bool) -> bytes:
        cfm = self._cfm(is_string)
        if cfm == "Identity":
            return data
        if cfm == "AESV3":  # V5: the FILE key directly, no object key
            return aes_decrypt(self.key, data)
        if cfm == "AESV2":
            return aes_decrypt(self._object_key(num, gen, aes=True), data)
        return rc4(self._object_key(num, gen, aes=False), data)

    def encrypt(self, data: bytes, num: int, gen: int, is_string: bool) -> bytes:
        """Generator-side mirror of :meth:`decrypt`. AES IVs must be
        deterministic for the synthetic corpus: derived from
        (num, gen, data) — never from an RNG (codec.py contract)."""
        cfm = self._cfm(is_string)
        if cfm == "Identity":
            return data
        iv = hashlib.md5(b"iv%d/%d" % (num, gen) + data[:16]).digest()
        if cfm == "AESV3":
            return aes_encrypt(self.key, iv, data)
        if cfm == "AESV2":
            return aes_encrypt(self._object_key(num, gen, aes=True), iv, data)
        return rc4(self._object_key(num, gen, aes=False), data)


# --- Algorithm 3 (generator side: compute /O from the owner password) -----


def compute_o(owner_pwd: bytes, user_pwd: bytes, r: int, n: int) -> bytes:
    digest = hashlib.md5(_pad_password(owner_pwd)).digest()
    if r >= 3:
        for _ in range(50):
            digest = hashlib.md5(digest).digest()
    key = digest[:n]
    out = rc4(key, _pad_password(user_pwd))
    if r >= 3:
        kint = int.from_bytes(key, "big")
        lanes = int.from_bytes(b"\x01" * n, "big")
        for i in range(1, 20):
            out = rc4((kint ^ (lanes * i)).to_bytes(n, "big"), out)
    return out


def build_handler(
    *,
    r: int,
    owner_pwd: bytes,
    user_pwd: bytes,
    p: int,
    file_id0: bytes,
    length_bits: int,
    aes: bool = False,
) -> StandardSecurityHandler:
    """Generator entry: derive /O, compute /U, return an authenticated
    handler whose fields populate the /Encrypt dict."""
    v = 4 if aes else (1 if r == 2 else 2)
    n = 5 if r == 2 else length_bits // 8
    o = compute_o(owner_pwd, user_pwd, r, n)
    h = StandardSecurityHandler(
        v=v,
        r=r,
        o=o,
        u=b"\x00" * 32,
        p=p,
        file_id0=file_id0,
        length_bits=length_bits,
        stm_cfm="AESV2" if aes else "V2",
        str_cfm="AESV2" if aes else "V2",
    )
    key = h._file_key(user_pwd)
    u = h._compute_u(key)
    h.u = u if r == 2 else u + b"\x00" * 16
    h.key = key
    return h


def build_handler_v5(
    *, owner_pwd: bytes, user_pwd: bytes, p: int, seed: bytes,
    revision: int = 6,
) -> StandardSecurityHandler:
    """Generator entry for AES-256 (V5, ISO 32000-2 Algorithms 8-10):
    derive /U /UE /O /OE from deterministic salts + a deterministic
    32-byte file key (codec.py contract: no RNG). ``revision=5``
    builds the withdrawn interim R5 layout (single SHA-256 hash)."""
    hf = hash_2b if revision == 6 else hash_r5
    file_key = hashlib.sha256(b"filekey:" + seed).digest()
    vs_u = hashlib.md5(b"vsu:" + seed).digest()[:8]
    ks_u = hashlib.md5(b"ksu:" + seed).digest()[:8]
    vs_o = hashlib.md5(b"vso:" + seed).digest()[:8]
    ks_o = hashlib.md5(b"kso:" + seed).digest()[:8]
    u = hf(user_pwd, vs_u, b"") + vs_u + ks_u
    ue = _aes_cbc(hf(user_pwd, ks_u, b""), b"\x00" * 16, file_key, decrypt=False)
    o = hf(owner_pwd, vs_o, u) + vs_o + ks_o
    oe = _aes_cbc(hf(owner_pwd, ks_o, u), b"\x00" * 16, file_key, decrypt=False)
    h = StandardSecurityHandler(
        v=5, r=revision, o=o, u=u, p=p, file_id0=b"", length_bits=256,
        stm_cfm="AESV3", str_cfm="AESV3", oe=oe, ue=ue,
    )
    h.key = file_key
    return h


def compute_perms(p: int, encrypt_metadata: bool, file_key: bytes, seed: bytes) -> bytes:
    """/Perms (ISO 32000-2 Algorithm 10): P ‖ 0xFFFFFFFF ‖ T/F ‖
    'adb' ‖ 4 arbitrary bytes, AES-256-ECB under the file key."""
    blk = (
        struct.pack("<I", p & 0xFFFFFFFF)  # tolerate unsigned-/P writers
        + b"\xff\xff\xff\xff"
        + (b"T" if encrypt_metadata else b"F")
        + b"adb"
        + hashlib.md5(b"perms:" + seed).digest()[:4]
    )
    return _aes_ecb(file_key, blk, decrypt=False)


class PubSecSecurityHandler(StandardSecurityHandler):
    """Public-key (certificate-based) security handler — ISO 32000-1
    §7.6.5: /Filter /Adobe.PubSec, /SubFilter adbe.pkcs7.s5.  Each
    /Recipients entry is a CMS EnvelopedData blob holding the 20-byte
    file-key seed ‖ 4-byte permissions, enveloped for one recipient
    certificate.  §7.6.5.3 Algorithm 3: the file key is the first n
    bytes of SHA-1(seed ‖ every recipient blob ‖ [FFFFFFFF when
    /EncryptMetadata false]); object-level encryption then follows the
    SAME crypt-filter algorithms as the standard handler (Algorithm 1
    per-object keys for V2/AESV2 — inherited unchanged)."""

    def __init__(
        self,
        *,
        recipients: list[bytes],
        stm_cfm: str = "AESV2",
        str_cfm: str = "AESV2",
        length_bits: int = 128,
        encrypt_metadata: bool = True,
    ):
        super().__init__(
            v=4,
            r=4,
            o=b"",
            u=b"",
            p=-4,
            file_id0=b"",
            length_bits=length_bits,
            encrypt_metadata=encrypt_metadata,
            stm_cfm=stm_cfm,
            str_cfm=str_cfm,
        )
        self.recipients = recipients

    def _derive_file_key(self, seed: bytes) -> bytes:
        h = hashlib.sha1(seed)
        for blob in self.recipients:
            h.update(blob)
        if not self.encrypt_metadata:
            h.update(b"\xff\xff\xff\xff")
        return h.digest()[: self.n]

    def authenticate(self, user_pwd: bytes = b"") -> bool:
        """Passwords don't apply; authenticate with the fixture
        recipient identity (a real deployment injects its own
        cert/key pair via :meth:`authenticate_identity`)."""
        from .pubsec import fixture_identity

        try:
            cert, key = fixture_identity()
        except Exception:
            return False
        return self.authenticate_identity(cert, key)

    def authenticate_identity(self, cert, private_key) -> bool:
        """Try to open any recipient envelope with (cert, key); on
        success derive and store the file key."""
        from cryptography.hazmat.primitives.serialization import pkcs7

        for blob in self.recipients:
            try:
                # NB decrypt accepts no Binary option (encrypt-side
                # only); the raw content comes back as stored
                content = pkcs7.pkcs7_decrypt_der(blob, cert, private_key, [])
            except Exception:
                continue
            if len(content) < 20:
                continue
            self.key = self._derive_file_key(content[:20])
            self._okey_cache.clear()
            return True
        return False


def build_pubsec_handler(seed: bytes, cert=None) -> PubSecSecurityHandler:
    """Generator entry: envelope ``seed(20) ‖ perms(4)`` for the
    recipient certificate (fixture by default) and return an
    authenticated handler.  NB the CMS envelope is the ONE place the
    generator is non-deterministic (PKCS#1 v1.5 padding and the
    content-encryption key are random by construction) — harmless
    because the correctness contract is round-trip identity of the
    DECRYPTED spans, not payload bytes."""
    from cryptography.hazmat.primitives.serialization import pkcs7
    from cryptography.hazmat.primitives.ciphers import algorithms

    if cert is None:
        from .pubsec import fixture_identity

        cert, _ = fixture_identity()
    perms = struct.pack("<i", -4)
    blob = (
        pkcs7.PKCS7EnvelopeBuilder()
        .set_data(seed[:20] + perms)
        .add_recipient(cert)
        # Binary: the seed is raw bytes — without it the builder
        # canonicalizes 0x0A/0x0D line endings and corrupts the seed
        .encrypt(serialization_encoding_der(), [pkcs7.PKCS7Options.Binary])
    )
    h = PubSecSecurityHandler(recipients=[blob])
    h.key = h._derive_file_key(seed[:20])
    return h


def serialization_encoding_der():
    from cryptography.hazmat.primitives.serialization import Encoding

    return Encoding.DER


def handler_from_dict(enc: "object", file_id0: bytes) -> StandardSecurityHandler:
    """/Encrypt CDict → handler (parser side). Raises EParseError on
    non-/Standard filters or unsupported revisions."""
    # local import: cos imports nothing from here (no cycle)
    from .cos import CDict, CString, Name

    if not isinstance(enc, CDict):
        raise EParseError("/Encrypt is not a dictionary")
    filt = enc.get_name("Filter")
    if filt == "Adobe.PubSec":
        sub = enc.get_name("SubFilter", "")
        if sub not in ("adbe.pkcs7.s3", "adbe.pkcs7.s4", "adbe.pkcs7.s5"):
            raise EParseError(f"unsupported PubSec subfilter {sub!r}")
        # /Recipients lives in the crypt filter dict for V4 (s5);
        # earlier subfilters carry it at the top level
        recips = None
        cfm = "V2"
        cf_len = None
        cf = enc.get("CF")
        if isinstance(cf, CDict):
            for fname in cf:
                f = cf[fname]
                if isinstance(f, CDict) and f.get("Recipients") is not None:
                    recips = f.get("Recipients")
                    cfm = f.get_name("CFM", "V2")
                    cf_len = f.get_int("Length", 0) or None
                    break
        if recips is None:
            recips = enc.get("Recipients")
        if isinstance(recips, CString):
            recips = [recips]
        blobs = [r.raw for r in (recips or []) if isinstance(r, CString)]
        if not blobs:
            raise EParseError("PubSec /Encrypt without /Recipients")
        # key length: the V4 crypt-filter dict's /Length takes
        # precedence over the top-level one; real writers disagree on
        # units there (ISO 32000-1 says bits, Acrobat wrote bytes) —
        # values < 40 can only be bytes
        length_bits = cf_len if cf_len is not None else enc.get_int("Length", 128)
        if length_bits < 40:
            length_bits *= 8
        # §7.6.5.3 derives the key from a SHA-1 digest: anything past
        # 160 bits cannot be supplied — fail here, not deep inside AES
        if length_bits > 160:
            raise EParseError(
                f"PubSec key length {length_bits} bits exceeds the "
                f"160-bit SHA-1 derivation (adbe.pkcs7.s5)"
            )
        return PubSecSecurityHandler(
            recipients=blobs,
            stm_cfm=cfm,
            str_cfm=cfm,
            length_bits=length_bits,
            encrypt_metadata=enc.get_bool("EncryptMetadata", True),
        )
    if filt != "Standard":
        raise EParseError(f"unsupported security handler {filt!r}")

    def _s(key: str) -> bytes:
        v = enc.get(key)
        return v.raw if isinstance(v, CString) else b""

    v = enc.get_int("V", 0)
    r = enc.get_int("R", 0)
    stm_cfm = str_cfm = "V2"
    length_bits = enc.get_int("Length", 40)
    if v in (4, 5):
        cf = enc.get("CF")
        stmf = enc.get_name("StmF", "Identity")
        strf = enc.get_name("StrF", "Identity")

        def _method(name: str) -> str:
            if name == "Identity" or not isinstance(cf, CDict):
                return "Identity"
            f = cf.get(name)
            if isinstance(f, CDict):
                m = f.get_name("CFM", "None")
                if m in ("V2", "AESV2", "AESV3"):
                    return m
                if m == "None":
                    return "Identity"
                raise EParseError(f"unsupported crypt filter method {m}")
            return "Identity"

        stm_cfm = _method(stmf)
        str_cfm = _method(strf)
        _ = Name  # (typed accessors above already unwrap names)
    return StandardSecurityHandler(
        v=v,
        r=r,
        o=_s("O"),
        u=_s("U"),
        p=enc.get_int("P", 0),
        file_id0=file_id0,
        length_bits=length_bits,
        encrypt_metadata=enc.get_bool("EncryptMetadata", True),
        stm_cfm=stm_cfm,
        str_cfm=str_cfm,
        oe=_s("OE"),
        ue=_s("UE"),
    )
