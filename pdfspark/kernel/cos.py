"""COS object model + byte tokenizer (SURVEY.md §1.1, §2.3 T1-T10).

Python value mapping (reference type → here):
- COSNull  → ``COS_NULL`` singleton   (cos/COSNull.java:30)
- COSBool  → ``bool``                 (cos/COSBool.java:28-35)
- COSNumber→ ``int`` | ``float``      (cos/COSNumber.java:41-72 — one
  numeric type with an isInteger flag; Python's int/float split carries
  the same information)
- COSString→ ``CString`` (raw bytes + lazy decoded str,
  cos/COSString.java:32,102-104)
- COSName  → ``Name`` (str subclass, stored WITHOUT the leading '/';
  the reference keeps '/' in the value — cos/COSName.java:127-128 —
  and its /Kids lookup constants are consequently broken, SURVEY §2.6
  M4; we normalize at parse time and emit '/' at produce time, which
  is the spec-correct behavior the rebuild contract requires)
- COSArray → ``list``                 (cos/COSArray.java:31)
- COSDictionary → ``CDict`` (insertion-ordered dict + typed accessors,
  cos/COSDictionary.java:35,112-290)
- COSStream→ ``CStream`` (CDict + raw body bytes, cos/COSStream.java:31-39)
- COSReference → ``Ref(num, gen)``    (cos/COSReference.java:32-39)

The tokenizer is a recursive-descent kernel over a ``Raw`` cursor —
single-document state only; the Spark engine runs one per document
inside mapInPandas (never a row-wise Python UDF).
"""

from __future__ import annotations

import re
from typing import Callable, NamedTuple, Optional, Union

from .encodings import decode_pdfdoc, encode_pdfdoc
from .errors import EParseError
from .raw import Raw, is_delim, is_ws

# ---------------------------------------------------------------------------
# Value types
# ---------------------------------------------------------------------------


class _Null:
    _inst: Optional["_Null"] = None

    def __new__(cls):
        if cls._inst is None:
            cls._inst = super().__new__(cls)
        return cls._inst

    def __repr__(self):
        return "COS_NULL"

    def __bool__(self):
        return False


COS_NULL = _Null()


class Ref(NamedTuple):
    """Indirect reference ``id gen R`` (cos/COSReference.java:32-39)."""

    num: int
    gen: int

    def __repr__(self):
        return f"{self.num} {self.gen} R"


class Name(str):
    """PDF name; value excludes the leading '/'.  NB: deliberately no
    interning __new__ — a Python-level __new__ costs more per call
    (~160ns vs the C str path's ~130ns, measured) than identity
    sharing ever recovers; hot call sites hoist module-level constants
    instead (codec._N_TYPE et al.)."""

    __slots__ = ()

    def __repr__(self):
        return "/" + str.__str__(self)


class CString:
    """Raw bytes + decoded text (cos/COSString.java)."""

    __slots__ = ("raw", "_value", "force_hex")

    def __init__(self, raw: bytes, force_hex: bool = False):
        self.raw = raw
        self._value: Optional[str] = None
        self.force_hex = force_hex

    @property
    def value(self) -> str:
        if self._value is None:
            self._value = decode_pdfdoc(self.raw)
        return self._value

    @classmethod
    def from_text(cls, text: str) -> "CString":
        return cls(encode_pdfdoc(text))

    def __eq__(self, other):
        return isinstance(other, CString) and self.raw == other.raw

    def __hash__(self):
        return hash(self.raw)

    def __repr__(self):
        return f"CString({self.raw!r})"


COSValue = Union[_Null, bool, int, float, CString, Name, list, "CDict", "CStream", Ref]

# resolver: follows a Ref to its value (bound to the xref layer)
Resolver = Callable[[Ref], COSValue]


class CDict(dict):
    """Insertion-ordered map + typed accessors with defaulting
    (cos/COSDictionary.java:112-290). Type mismatch returns the
    caller's default — never throws (e.g. getInt :133-138).
    Reference chains are followed ≤5 hops (dereference depth guard,
    COSDictionary.java:102-110)."""

    MAX_DEREF_DEPTH = 5

    def deref(self, v: COSValue, resolver: Optional[Resolver]) -> COSValue:
        if not isinstance(v, Ref):
            return v
        if resolver is None:
            return COS_NULL
        # single-hop fast path (r9): almost every real chain is one Ref
        # deep, so resolve once before paying the two-getattr limit
        # lookup below — only multi-hop chains (and only they can loop)
        # fetch ParserSettings.max_deref_depth through the bound
        # resolver's owner (Parser sets .deref_limit from settings).
        # NB with any sane limit (≥1) behavior is identical to checking
        # the limit up front.
        v = resolver(v)
        if not isinstance(v, Ref):
            return v
        limit = getattr(
            getattr(resolver, "__self__", None), "deref_limit", self.MAX_DEREF_DEPTH
        )
        depth = 1
        while isinstance(v, Ref):
            if depth >= limit:
                raise EParseError("Infinite or too deep loop of references")
            v = resolver(v)
            depth += 1
        return v

    def _get(self, key: str, resolver: Optional[Resolver]):
        v = self.get(key, COS_NULL)
        # non-Ref fast path: skip the deref() frame entirely — typed
        # accessors run tens of thousands of times per document batch
        if v.__class__ is Ref:
            return self.deref(v, resolver)
        return v

    # NB the typed accessors below inline _get's body (one dict.get +
    # class check) — they run tens of thousands of times per document
    # batch and the extra frame was measurable

    def get_bool(self, key, default=False, resolver=None):
        v = self.get(key, COS_NULL)
        if v.__class__ is Ref:
            v = self.deref(v, resolver)
        return v if isinstance(v, bool) else default

    def get_int(self, key, default=0, resolver=None):
        v = self.get(key, COS_NULL)
        if v.__class__ is Ref:
            v = self.deref(v, resolver)
        if isinstance(v, bool):
            return default
        if isinstance(v, int):
            return v
        if isinstance(v, float):
            # a real beyond int64 is no usable integer either
            return int(v) if -_I64 <= v < _I64 else default
        return default

    def get_str(self, key, default="", resolver=None):
        v = self.get(key, COS_NULL)
        if v.__class__ is Ref:
            v = self.deref(v, resolver)
        return v.value if isinstance(v, CString) else default

    def get_name(self, key, default=None, resolver=None):
        v = self.get(key, COS_NULL)
        if v.__class__ is Ref:
            v = self.deref(v, resolver)
        return v if v.__class__ is Name else default

    def get_array(self, key, default=None, resolver=None):
        v = self.get(key, COS_NULL)
        if v.__class__ is Ref:
            v = self.deref(v, resolver)
        return v if isinstance(v, list) else default

    def get_dict(self, key, default=None, resolver=None):
        v = self.get(key, COS_NULL)
        if v.__class__ is Ref:
            v = self.deref(v, resolver)
        return v if isinstance(v, CDict) else default

    def get_stream(self, key, default=None, resolver=None):
        v = self.get(key, COS_NULL)
        if v.__class__ is Ref:
            v = self.deref(v, resolver)
        return v if v.__class__ is CStream else default

    def get_ref(self, key):
        v = self.get(key, COS_NULL)
        return v if isinstance(v, Ref) else None

    def get_rect(self, key, default=None, resolver=None):
        v = self._get(key, resolver)
        if isinstance(v, list) and len(v) == 4 and all(
            isinstance(x, (int, float)) and not isinstance(x, bool) for x in v
        ):
            from .docmodel import Rect

            return Rect.normalized(*[float(x) for x in v])
        return default


class CStream:
    """Dictionary + raw `/Length` body bytes (cos/COSStream.java:31-39)."""

    __slots__ = ("dict", "data")

    def __init__(self, d: CDict, data: bytes):
        self.dict = d
        self.data = data

    def __repr__(self):
        return f"CStream({dict(self.dict)!r}, {len(self.data)} bytes)"


# ---------------------------------------------------------------------------
# Tokenizer (parse side)
# ---------------------------------------------------------------------------

_HEXVAL = {c: i for i, c in enumerate(b"0123456789abcdef")}
_HEXVAL.update({c: i for i, c in enumerate(b"0123456789ABCDEF")})

# hot-path scanners (bulk regex instead of byte loops)
_NAME_RUN_RE = re.compile(rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]*")
# interned-name cache (names repeat massively: Type, Length, Kids, F1…
# — mirrors the reference's interned COSName byte arrays,
# cos/COSName.java:33,127-128); bounded to stay batch-safe
_NAME_CACHE: dict = {}
_NAME_CACHE_MAX = 4096
_IDGEN_RE = re.compile(rb"([0-9]+)[\x00\t\n\x0c\r ]+([0-9]+)[\x00\t\n\x0c\r ]+(R|obj)")
_LITERAL_SPECIAL_RE = re.compile(rb"[\\()\r]")


def parse_name(r: Raw) -> Name:
    """T2 — '/'-prefixed name, '#xx' hex escapes (ISO 32000-1 §7.3.5).

    Reference: cos/COSName.java:169-247. Its escape decode uses ``&``
    where ``|`` is needed (COSName.java:239 — escaped chars decode to
    0); untested path, rebuilt spec-correct per SURVEY §5 policy.
    """
    d, n = r.data, r.length
    p = r.pos
    if p >= n or d[p] != 0x2F:
        raise EParseError(f"name expected at {p}")
    run = _NAME_RUN_RE.match(d, p + 1).group()
    r.pos = p + 1 + len(run)
    if b"#" not in run:  # fast path: no escapes + interning
        cached = _NAME_CACHE.get(run)
        if cached is not None:
            return cached
        nm = Name(run.decode("latin-1"))
        if len(_NAME_CACHE) < _NAME_CACHE_MAX:
            _NAME_CACHE[run] = nm
        return nm
    out = bytearray()
    i, ln = 0, len(run)
    while i < ln:
        b = run[i]
        if b == 0x23 and i + 2 < ln and run[i + 1] in _HEXVAL and run[i + 2] in _HEXVAL:
            out.append((_HEXVAL[run[i + 1]] << 4) | _HEXVAL[run[i + 2]])
            i += 3
        else:
            out.append(b)
            i += 1
    return Name(out.decode("latin-1"))


def try_read_id(r: Raw) -> Optional[tuple[int, int, bytes]]:
    """T9 — speculative ``id gen R`` / ``id gen obj`` parse with full
    cursor rollback on failure (cos/IdGenPair.java:27-88).
    Returns (id, gen, b'R'|b'obj') or None."""
    d, n = r.data, r.length
    save = r.pos
    m = _IDGEN_RE.match(d, save)
    if m is None:
        return None
    kw = m.group(3)
    p = m.end()
    if kw == b"R":
        nxt = d[p] if p < n else 0x20
        if not (is_ws(nxt) or is_delim(nxt)):
            return None
    # 'obj' may abut '<<' or any delimiter
    r.pos = p
    return (int(m.group(1)), int(m.group(2)), kw)


_ESCAPES = {
    0x6E: 0x0A,  # \n
    0x72: 0x0D,  # \r
    0x74: 0x09,  # \t
    0x62: 0x08,  # \b
    0x66: 0x0C,  # \f
    0x28: 0x28,  # \(
    0x29: 0x29,  # \)
    0x5C: 0x5C,  # \\
}


def parse_literal_string(r: Raw) -> CString:
    """T4 — ``(...)`` literal string (cos/COSString.java:164-296).

    Nested-paren balancing; \\n \\r \\t \\b \\f \\( \\) \\\\ escapes;
    1-3 digit octal; backslash+EOL line continuation; bare EOL
    normalized to LF; unknown escape = drop backslash keep char.
    Pinned by TestCOSString.java:63-98 (``(\\0053)``→2 chars,
    ``(\\053)``→'+')."""
    d, n = r.data, r.length
    p = r.pos
    if d[p] != 0x28:
        raise EParseError(f"literal string expected at {p}")
    p += 1
    depth = 1
    out = bytearray()
    while p < n:
        # bulk-copy the run up to the next special byte (\ ( ) CR)
        m = _LITERAL_SPECIAL_RE.search(d, p)
        if m is None:
            break
        if m.start() > p:
            out += d[p : m.start()]
            p = m.start()
        b = d[p]
        if b == 0x5C:  # backslash
            p += 1
            if p >= n:
                break
            e = d[p]
            if e in _ESCAPES:
                out.append(_ESCAPES[e])
                p += 1
            elif 0x30 <= e <= 0x37:  # octal, 1-3 digits
                val = e - 0x30
                p += 1
                for _ in range(2):
                    if p < n and 0x30 <= d[p] <= 0x37:
                        val = (val << 3) | (d[p] - 0x30)
                        p += 1
                    else:
                        break
                out.append(val & 0xFF)
            elif e == 0x0D:  # \<CR>[LF] line continuation
                p += 1
                if p < n and d[p] == 0x0A:
                    p += 1
            elif e == 0x0A:  # \<LF>
                p += 1
            else:  # unknown escape: drop backslash, keep char
                out.append(e)
                p += 1
        elif b == 0x28:
            depth += 1
            out.append(b)
            p += 1
        elif b == 0x29:
            depth -= 1
            if depth == 0:
                p += 1
                r.pos = p
                return CString(bytes(out))
            out.append(b)
            p += 1
        elif b == 0x0D:  # bare EOL → LF
            out.append(0x0A)
            p += 1
            if p < n and d[p] == 0x0A:
                p += 1
        else:
            out.append(b)
            p += 1
    raise EParseError("unterminated literal string")


def parse_hex_string(r: Raw) -> CString:
    """T5 — ``<...>`` hex string; WS ignored; odd final nibble <<4
    pad; strict charset else throw (cos/COSString.java:532-568)."""
    d, n = r.data, r.length
    p = r.pos
    if d[p] != 0x3C:
        raise EParseError(f"hex string expected at {p}")
    p += 1
    out = bytearray()
    hi = -1
    while p < n:
        b = d[p]
        if b == 0x3E:
            p += 1
            if hi >= 0:
                out.append(hi << 4)
            r.pos = p
            return CString(bytes(out), force_hex=True)
        if is_ws(b):
            p += 1
            continue
        if b not in _HEXVAL:
            raise EParseError(f"invalid hex digit {b:#x} at {p}")
        if hi < 0:
            hi = _HEXVAL[b]
        else:
            out.append((hi << 4) | _HEXVAL[b])
            hi = -1
        p += 1
    raise EParseError("unterminated hex string")


# --- master token scanner -------------------------------------------------
# ONE compiled regex per token: leading whitespace/comments are folded
# into the token match, numbers/refs carry their terminator rule as a
# lookahead, and an explicit stack replaces recursive descent. Group
# numbers: 1 '<<'  2 '>>'  3 '['  4 ']'  5 name-run  6 ref-id
# 7 ref-gen  8 number  9 '('  10 '<'  11 keyword — m.lastindex is the
# dispatch key (for a ref, group 7 is the last to participate).
_TOK_RE = re.compile(
    # possessive *+: a comment runs to EOL unconditionally — without it
    # the engine would backtrack INTO a comment when the next token
    # fails and happily lex comment text as tokens
    rb"(?:[\x00\t\n\x0c\r ]+|%[^\r\n]*)*+"
    rb"(?:(<<)"
    rb"|(>>)"
    rb"|(\[)"
    rb"|(\])"
    rb"|/([^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"
    rb"|([0-9]{1,9})[\x00\t\n\x0c\r ]+([0-9]{1,5})[\x00\t\n\x0c\r ]+R"
    rb"(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|\Z)"
    rb"|([+-]?(?:[0-9]+(?:\.[0-9]*)?|\.[0-9]+))"
    rb"(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|\Z)"
    rb"|(\()"
    rb"|(<)"
    rb"|(true|false|null))"
)


def wide_number(num: bytes) -> Union[int, float]:
    """A number token longer than 18 bytes → int or float (the short
    ones cannot leave range). An integer beyond the signed 64-bit range
    or a real beyond the double range is a malformed document: the
    kernel reads integers as C long long / Py_ssize_t and converts them
    to double (twin of _ctok's number_value_c)."""
    if b"." in num:
        v = float(num)
        if v in (_INF, -_INF):
            raise EParseError(
                "value too large to convert to float: '%.200s'" % num.decode()
            )
        return v
    v = int(num)
    if not -_I64 <= v < _I64:
        raise EParseError("integer out of range: '%.200s'" % num.decode())
    return v


_INF = float("inf")
_I64 = 1 << 63


def _name_from_run(run: bytes) -> Name:
    """name-run bytes (sans '/') → interned Name, #xx escapes decoded
    (same semantics as parse_name; split out for the scanner)."""
    if b"#" not in run:
        nm = Name(run.decode("latin-1"))
        if len(_NAME_CACHE) < _NAME_CACHE_MAX:
            _NAME_CACHE[run] = nm
        return nm
    out = bytearray()
    i, ln = 0, len(run)
    while i < ln:
        b = run[i]
        if b == 0x23 and i + 2 < ln and run[i + 1] in _HEXVAL and run[i + 2] in _HEXVAL:
            out.append((_HEXVAL[run[i + 1]] << 4) | _HEXVAL[run[i + 2]])
            i += 3
        else:
            out.append(b)
            i += 1
    return Name(out.decode("latin-1"))


def _stream_followup(
    r: Raw, out: CDict, resolver: Optional[Resolver]
) -> Optional[CStream]:
    """T8 — after ``>>``: if the ``stream`` keyword follows, read the
    `/Length` body bytes (length may itself be an indirect reference
    resolved mid-tokenize — PDFParser.java:259-270,
    cos/COSStream.java:34-46); else restore the cursor and return None."""
    d = r.data
    save = r.pos
    r.skip_ws()
    if not d.startswith(b"stream", r.pos):
        r.pos = save
        return None
    r.pos += 6
    r.skip_crlf_or_lf()
    length = out.get("Length", COS_NULL)
    if isinstance(length, Ref):
        if resolver is None:
            raise EParseError("/Length is indirect but no resolver available")
        length = resolver(length)
    if not isinstance(length, int) or isinstance(length, bool):
        if r.settings.allow_reconstruction:
            # §C.2 salvage: no usable /Length — take everything up
            # to the next `endstream`, minus the writer's EOL
            end = d.find(b"endstream", r.pos)
            if end < 0:
                raise EParseError("stream /Length missing and no endstream")
            body = d[r.pos : end]
            if body.endswith(b"\r\n"):
                body = body[:-2]
            elif body.endswith((b"\n", b"\r")):
                body = body[:-1]
            r.pos = end + 9
            out[Name("Length")] = len(body)
            return CStream(out, body)
        raise EParseError("stream /Length missing or non-integer")
    body = r.read_stream_body(length)
    return CStream(out, body)


def parse_object(r: Raw, resolver: Optional[Resolver] = None) -> COSValue:
    """T1/T6/T7/T9 — one COS value via the master-regex token scanner.

    Each token costs a single C-level regex match plus an int-indexed
    branch; containers are built on an explicit stack (no recursive
    descent, no per-token skip_ws calls — the old hot path burned
    ~3 re.match + 2 function calls per token). Semantics pinned by
    tests/test_cos_tokens.py are unchanged: numbers carry the
    terminator rule (TestCOSNumber.java:152-274), refs require
    ws/delim after ``R``, ``id gen obj`` in value position re-reads as
    a plain number, 'true'/'false'/'null' are verified tokens
    (spec-correct divergence from PDFParser.java:245-256's blind
    skip)."""
    d, n = r.data, r.length
    pos = r.pos
    match = _TOK_RE.match
    name_cache = _NAME_CACHE
    stack: list = []  # parent frames: (container, pending_key)
    cur = None  # active container (CDict or list) or None
    key: Optional[Name] = None  # pending key when cur is a CDict
    want_key = False  # cur is a CDict and the next token must be a key
    while True:
        m = match(d, pos)
        if m is None:
            r.pos = pos
            ctx = (
                "dictionary"
                if want_key or (cur.__class__ is CDict)
                else ("array" if cur.__class__ is list else "value position")
            )
            raise EParseError(f"EOF or bad token at {pos} inside {ctx}")
        tok = m.lastindex
        tend = m.end()

        if want_key:
            if tok == 5:  # /name key
                run = m.group(5)
                key = name_cache.get(run)
                if key is None:
                    key = _name_from_run(run)
                want_key = False
                pos = tend
                continue
            if tok == 2:  # >> — close dict, then the stream follow-up
                r.pos = tend
                v = cur
                sv = _stream_followup(r, v, resolver)
                if sv is not None:
                    v = sv
                pos = r.pos
                if not stack:
                    return v
                cur, key = stack.pop()
            else:
                raise EParseError(f"name expected at {pos}")
        else:
            # value position — branches ordered by token frequency
            if tok == 8:  # number
                num = m.group(8)
                if len(num) > 18:
                    v = wide_number(num)
                else:
                    v = float(num) if b"." in num else int(num)
                pos = tend
            elif tok == 5:  # name
                run = m.group(5)
                v = name_cache.get(run)
                if v is None:
                    v = _name_from_run(run)
                pos = tend
            elif tok == 7:  # id gen R
                v = Ref(int(m.group(6)), int(m.group(7)))
                pos = tend
            elif tok == 1:  # <<
                stack.append((cur, key))
                cur = CDict()
                key = None
                want_key = True
                pos = tend
                continue
            elif tok == 3:  # [
                stack.append((cur, key))
                cur = []
                key = None
                pos = tend
                continue
            elif tok == 4:  # ]
                if cur.__class__ is not list:
                    raise EParseError(f"unknown token b']' at {pos}")
                v = cur
                pos = tend
                cur, key = stack.pop()
            elif tok == 9:  # ( literal string
                r.pos = tend - 1
                v = parse_literal_string(r)
                pos = r.pos
            elif tok == 10:  # < hex string
                r.pos = tend - 1
                v = parse_hex_string(r)
                pos = r.pos
            elif tok == 11:  # true / false / null
                kw = m.group(11)
                v = True if kw == b"true" else (False if kw == b"false" else COS_NULL)
                pos = tend
            else:  # tok == 2: '>>' at value position
                raise EParseError(f"unknown token b'>' at {pos}")

        # one value completed — attach to parent or return
        if cur is None:
            r.pos = pos
            return v
        if cur.__class__ is CDict:
            cur[key] = v
            key = None
            want_key = True
        else:
            cur.append(v)
            want_key = False


# --- optional C fast path ---------------------------------------------------
# `_ctok` (kernel/_ctok.c, compiled on demand by kernel/ctok.py) is a
# drop-in for parse_object with IDENTICAL semantics, sharing this
# module's class objects and interned-name cache; parity is enforced by
# tests/test_ctok_parity.py and the full suite run under
# PDFSPARK_NO_CTOK=1. Any import/compile failure silently keeps the
# pure-Python scanner above.
_parse_object_py = parse_object


def _load_ctok():
    try:
        from .ctok import load

        mod = load()
        if mod is None:
            return None
        mod.configure(
            CDict, CString, Name, Ref, CStream, COS_NULL,
            _NAME_CACHE, _name_from_run, EParseError,
        )
        return mod
    except Exception:  # pragma: no cover - env without gcc/headers
        return None


_CTOK = _load_ctok()

# C serializer hook (produce() reads this at call time)
_CTOK_PRODUCE = getattr(_CTOK, "produce", None)
_CTOK_SERIALIZE_OBJS = getattr(_CTOK, "serialize_objs", None)

if _CTOK is not None:
    _ctok_parse = _CTOK.parse_object

    def parse_object(r: Raw, resolver: Optional[Resolver] = None) -> COSValue:  # noqa: F811
        data = r.data
        if data.__class__ is not bytes:  # memoryview etc. → Python path
            return _parse_object_py(r, resolver)
        st = r.settings
        v, r.pos = _ctok_parse(
            data, r.pos, resolver, st, st.allow_reconstruction, st.max_scan_range
        )
        return v

    parse_object.__doc__ = _parse_object_py.__doc__


# ---------------------------------------------------------------------------
# Produce side (S3 — the generator/round-trip serializer,
# COSDictionary.java:76-95 et al.)
# ---------------------------------------------------------------------------


def _produce_number(v: Union[int, float]) -> bytes:
    if isinstance(v, int):
        return str(v).encode("ascii")
    # reference bug: String.format("%f.3") at COSNumber.java:220-225;
    # spec-correct fixed-point emit here
    s = f"{v:.6f}".rstrip("0")
    if s.endswith("."):
        s += "0"
    return s.encode("ascii")


_PRODUCE_NAME_CACHE: dict = {}


def produce_name(name: str) -> bytes:
    """C9 — '/' + bytes, <0x21 and delimiters escaped as #xx
    (cos/COSName.java:250-268). Cached: emitted names repeat massively
    (Type/Length/Kids/F1…)."""
    cached = _PRODUCE_NAME_CACHE.get(name)
    if cached is not None:
        return cached
    if name.isalnum() and name.isascii():
        # no byte can need a #xx escape — one-shot encode.  MUST still
        # cache: the hot constants (Type/Page/Length/…) are all alnum,
        # and an uncached fast path re-encodes them on every call AND
        # starves the C-side produce name cache (measured 28% of
        # generation before this was caught).
        res = b"/" + name.encode("ascii")
    else:
        out = bytearray(b"/")
        for b in name.encode("latin-1"):
            if b < 0x21 or b == 0x23 or is_delim(b):
                out += f"#{b:02x}".encode("ascii")
            else:
                out.append(b)
        res = bytes(out)
    if len(_PRODUCE_NAME_CACHE) < 4096:
        _PRODUCE_NAME_CACHE[name] = res
    return res


_LITERAL_ESCAPE_RE = re.compile(rb"[\\()\n\r]")


def produce_literal_string(raw: bytes) -> bytes:
    """C8 — literal form with \\( \\) \\\\ \\n \\r escapes
    (cos/COSString.java:298-345)."""
    if _LITERAL_ESCAPE_RE.search(raw) is None:  # fast path: no escapes
        return b"(" + raw + b")"
    out = bytearray(b"(")
    for b in raw:
        if b == 0x28:
            out += b"\\("
        elif b == 0x29:
            out += b"\\)"
        elif b == 0x5C:
            out += b"\\\\"
        elif b == 0x0A:
            out += b"\\n"
        elif b == 0x0D:
            out += b"\\r"
        else:
            out.append(b)
    out += b")"
    return bytes(out)


def produce_hex_string(raw: bytes) -> bytes:
    return b"<" + raw.hex().encode("ascii") + b">"


def _produce_into(v: COSValue, out: list) -> None:
    """Append v's serialized pieces to `out` (joined once by the
    caller) — BYTE-identical emission to the historical per-value
    concatenation, without its intermediate bytes objects. Exact-class
    dispatch first (every value the parser or generator builds is one
    of these exact classes); the isinstance chain below stays as the
    subclass-tolerant fallback."""
    cls = v.__class__
    if cls is int:
        out.append(str(v).encode("ascii"))
    elif cls is Name:
        out.append(produce_name(str(v)))
    elif cls is Ref:
        out.append(b"%d %d R" % (v.num, v.gen))
    elif cls is CString:
        out.append(
            produce_hex_string(v.raw)
            if v.force_hex
            else produce_literal_string(v.raw)
        )
    elif cls is CDict:
        out.append(b"<<")
        for k, val in v.items():
            out.append(b" ")
            out.append(produce_name(str(k)))
            out.append(b" ")
            _produce_into(val, out)
        out.append(b" >>")
    elif cls is list:
        out.append(b"[")
        first = True
        for x in v:
            if not first:
                out.append(b" ")
            first = False
            _produce_into(x, out)
        out.append(b"]")
    elif cls is float:
        out.append(_produce_number(v))
    elif cls is bool:
        out.append(b"true" if v else b"false")
    elif v is COS_NULL:
        out.append(b"null")
    elif cls is CStream:
        _produce_into(v.dict, out)
        out.append(b"\nstream\n")
        out.append(v.data)
        out.append(b"\nendstream")
    # fallback: subclass instances (none are built in-tree, but the
    # serde stays tolerant of callers handing e.g. an int subclass)
    elif isinstance(v, bool):
        out.append(b"true" if v else b"false")
    elif isinstance(v, (int, float)):
        out.append(_produce_number(v))
    elif isinstance(v, Name):
        out.append(produce_name(str(v)))
    elif isinstance(v, CString):
        out.append(
            produce_hex_string(v.raw)
            if v.force_hex
            else produce_literal_string(v.raw)
        )
    elif isinstance(v, Ref):
        out.append(b"%d %d R" % (v.num, v.gen))
    elif isinstance(v, list):
        out.append(b"[")
        first = True
        for x in v:
            if not first:
                out.append(b" ")
            first = False
            _produce_into(x, out)
        out.append(b"]")
    elif isinstance(v, CStream):
        _produce_into(v.dict, out)
        out.append(b"\nstream\n")
        out.append(v.data)
        out.append(b"\nendstream")
    elif isinstance(v, CDict):
        out.append(b"<<")
        for k, val in v.items():
            out.append(b" ")
            out.append(produce_name(str(k)))
            out.append(b" ")
            _produce_into(val, out)
        out.append(b" >>")
    else:
        raise TypeError(f"cannot produce {type(v)}")


def _produce_py_top(v: COSValue) -> bytes:
    out: list = []
    _produce_into(v, out)
    return b"".join(out)


def _produce_name_key(k) -> bytes:
    return produce_name(str(k))


def produce(v: COSValue) -> bytes:
    """Serialize any COS value back to PDF syntax (symmetric serde per
    COSObject.java:29-33; round-trip contract mirrors
    TestCOSString.checkProduceParsePair, TestCOSString.java:148-181).
    C fast path when the extension is available (byte-identical —
    differential parity in test_ctok_parity); exotic values and deep
    trees fall back to the Python accumulator, the authority."""
    fn = _CTOK_PRODUCE
    if fn is not None:
        try:
            # the shared name cache goes along so the C side resolves
            # repeated names with a dict hit instead of a Python call
            return fn(v, _produce_name_key, _PRODUCE_NAME_CACHE)
        except (TypeError, RecursionError):
            pass
    return _produce_py_top(v)


def serialize_objs(
    items: list, eol: bytes, base: int
) -> tuple[bytes, list[int]]:
    """Emit ``N 0 obj<eol><produce(obj)><eol>endobj<eol>`` for every
    (num, obj) pair into one buffer, returning (bytes, offsets) with
    offsets[i] = base + position of item i — the assemblers' body
    loop, fused into one C call when the extension is available
    (byte-identical; differential parity in test_ctok_parity)."""
    fn = _CTOK_SERIALIZE_OBJS
    if fn is not None:
        try:
            return fn(items, eol, base, _produce_name_key,
                      _PRODUCE_NAME_CACHE)
        except (TypeError, RecursionError):
            pass
    out = bytearray()
    offsets: list[int] = []
    for num, obj in items:
        offsets.append(base + len(out))
        out += str(num).encode() + b" 0 obj" + eol
        out += produce(obj)
        out += eol + b"endobj" + eol
    return bytes(out), offsets

