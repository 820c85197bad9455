"""Document model: catalog, page tree, info, dates, rectangles
(SURVEY.md §2.6 M1-M10, §2.7 C5/C6/C10).

Transcribed from ``model/PDFDocCatalog.java``, ``model/PDFPage.java``,
``model/PDFDocInfo.java``, ``utils/DateConverter.java``,
``cds/PDFRectangle.java``. The reference's /Kids traversal is broken
by name-constant bugs (missing '/', wrong case — cos/COSName.java:
110-114) and never tested; rebuilt spec-correct per SURVEY §5 policy:
keys are 'Kids', 'CropBox', 'Parent', 'Page', 'Pages'.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from typing import Optional

from .cos import CDict, COS_NULL, CStream, CString, Name, Ref, _CTOK
from .errors import EParseError, soft
from .xref import Parser

# r7 C page-tree walk (docmodel.pages twin; falls back to the Python
# DFS below — the semantic authority — when the extension is absent)
_CTOK_WALK = getattr(_CTOK, "walk_pages", None)


# ---------------------------------------------------------------------------
# C10: rectangles (cds/PDFRectangle.java:31-155)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Rect:
    llx: float
    lly: float
    urx: float
    ury: float

    @classmethod
    def normalized(cls, a: float, b: float, c: float, d: float) -> "Rect":
        """Normalize so ll ≤ ur (PDFRectangle.java:98-111) — the
        columnar analog is least()/greatest()."""
        return cls(min(a, c), min(b, d), max(a, c), max(b, d))

    @property
    def width(self) -> float:
        return self.urx - self.llx

    @property
    def height(self) -> float:
        return self.ury - self.lly

    def contains(self, x: float, y: float) -> bool:
        return self.llx <= x <= self.urx and self.lly <= y <= self.ury

    def moved(self, dx: float, dy: float) -> "Rect":
        return Rect(self.llx + dx, self.lly + dy, self.urx + dx, self.ury + dy)


# ---------------------------------------------------------------------------
# C5: PDF date parse (utils/DateConverter.java:161-297)
# ---------------------------------------------------------------------------

_PDF_DATE = re.compile(
    rb"""^(?:D:)?
    (?P<Y>\d{4})
    (?P<M>\d{2})?(?P<D>\d{2})?
    (?P<h>\d{2})?(?P<m>\d{2})?(?P<s>\d{2})?
    (?P<tz>[Zz+\-])?
    (?:(?P<th>\d{2})'?)?
    (?:(?P<tm>\d{2})'?)?""",
    re.X,
)

# the reference's writer-quirk fallback families (DateConverter.java:
# 43-95) — Distiller/Ghostscript/Word/ECMP5/PDFBOX-16x shapes; the
# `yyyymmdd±HH'00'` family is absorbed by the positional parser's tz
# branch, and CPython's %d/%m accept 1-2 digits so the M/d variants
# collapse
_FALLBACK_FORMATS = [
    "%A, %d %b %Y %I:%M:%S %p",
    "%A, %B %d, %Y %I:%M:%S %p",
    "%m/%d/%Y %H:%M:%S",
    "%m/%d/%Y %I:%M:%S",
    "%m/%d/%Y",
    "%m/%d/%y %I:%M:%S",
    "%m/%d/%y",
    "%d/%m/%Y %I:%M:%S",
    "%Y-%m-%dT%H:%M:%SZ",
    "%Y-%m-%dT%H:%M:%S",
    "%Y-%m-%d %H:%M:%S",
    "%A, %B %d, %Y",  # Acrobat Distiller 1.0.2 for Macintosh
    "%A %B %d, %Y %H:%M:%S",  # ECMP5
    "%A %B %d %H:%M:%S %Y",  # GNU Ghostscript 7.0.7 (zone dropped)
    "%A, %B %d, %Y at %I:%M%p",  # Acrobat Net Distiller 1.0
    "%d %b %Y %I:%M:%S",
    "%d %b %Y %I:%M",
    "%d %B %Y",
    "%B %d, %Y",
    "%a %b %d %H:%M:%S %Y",
    "%Y%m%d %H:%M:%S",
    "%Y%m%d",
]


def parse_pdf_date(s: str) -> Optional[datetime]:
    """``D:YYYYMMDDHHmmSS±HH'mm'`` positional parse with zone; on
    failure fall back through writer-quirk formats
    (DateConverter.toCalendar)."""
    if not s:
        return None
    raw = s.encode("ascii", "ignore")
    # positional form must either carry the D: prefix or consume the
    # whole string — otherwise writer-quirk strings like ISO-8601
    # would half-match and shadow the fallback formats
    m = _PDF_DATE.match(raw) if raw.startswith(b"D:") else _PDF_DATE.fullmatch(raw)
    if m and m.group("Y"):
        g = lambda k, d: int(m.group(k)) if m.group(k) else d
        tz = timezone.utc  # Z, z or no zone
        try:
            dt = datetime(
                g("Y", 1970), g("M", 1), g("D", 1), g("h", 0), g("m", 0), g("s", 0)
            )
            tzc = m.group("tz")
            if tzc in (b"+", b"-"):
                off = timedelta(hours=g("th", 0), minutes=g("tm", 0))
                tz = timezone(-off if tzc == b"-" else off)
            dt = dt.replace(tzinfo=tz)
            # an offset of 24 h or more, or one that shifts the UTC
            # instant out of years 1..9999, is no date either
            dt.astimezone(timezone.utc)
            return dt
        except (ValueError, OverflowError):
            pass
    for fmt in _FALLBACK_FORMATS:
        try:
            return datetime.strptime(s.strip(), fmt).replace(tzinfo=timezone.utc)
        except ValueError:
            continue
    return None


def format_pdf_date(dt: datetime) -> str:
    """C6: calendar → ``D:...`` (DateConverter.toString, :109-150)."""
    base = dt.strftime("D:%Y%m%d%H%M%S")
    off = dt.utcoffset()
    if off is None:
        return base
    total = int(off.total_seconds())
    sign = "+" if total >= 0 else "-"
    total = abs(total)
    return f"{base}{sign}{total // 3600:02d}'{(total % 3600) // 60:02d}'"


# ---------------------------------------------------------------------------
# M1-M10: catalog / pages / info
# ---------------------------------------------------------------------------

PAGE_MODES = {
    "UseNone", "UseOutlines", "UseThumbs", "FullScreen", "UseOC", "UseAttachments",
}
PAGE_LAYOUTS = {
    "SinglePage", "OneColumn", "TwoColumnLeft", "TwoColumnRight", "TwoPageLeft",
    "TwoPageRight",
}


@dataclass
class PageInfo:
    obj_num: int
    media_box: Optional[Rect]
    crop_box: Optional[Rect]
    resources: Optional[CDict]
    contents: list  # list of CStream (already resolved, still encoded)
    rotate: int


class Document:
    """M1 — assembled document: catalog + info (PDFFile.java:60-70,
    model/PDFDocument.java:39-44)."""

    def __init__(self, parser: Parser):
        self.parser = parser
        if parser.root_ref is None:
            raise EParseError("no /Root")
        root = parser._resolve(parser.root_ref)
        if not isinstance(root, CDict):
            raise EParseError("/Root is not a dictionary")
        self.catalog = root
        # M2: /Type /Catalog soft-assert (PDFDocCatalog.java:39-47)
        if root.get_name("Type") != "Catalog":
            soft("structure", "/Type is not /Catalog")
        self._info: Optional[CDict] = None  # lazy: span extraction
        # never touches /Info, so its object parse is deferred to
        # first access (the metadata pipeline reads it immediately)

    @property
    def info(self) -> CDict:
        if self._info is None:
            parser = self.parser
            v = (
                parser._resolve(parser.info_ref)
                if parser.info_ref is not None
                else COS_NULL
            )
            self._info = v if isinstance(v, CDict) else CDict()
        return self._info

    # ---- M3: lazy page count (PDFDocCatalog.getPagesCount, :59-67) ---
    def page_count(self) -> int:
        pages = self.catalog.get_dict("Pages", None, self.parser._resolve)
        if pages is None:
            return -1
        return pages.get_int("Count", -1, self.parser._resolve)

    # ---- M4: page-tree DFS (PDFDocCatalog.loadPages, :68-112) --------
    def pages(self) -> list[PageInfo]:
        """In-order DFS over /Kids; DFS order defines the page (and
        hence span-offset) sequence. Kids must be references
        (EParseError otherwise, PDFDocCatalog.java:84-90); missing
        /Kids → soft-assert, zero pages. Inheritable attributes
        (Resources/MediaBox/CropBox/Rotate) accumulate down the walk —
        the reference skips inheritance (PDFPage.java:84-86 admits it);
        spec-correct here (ISO 32000-1 §7.7.3.4). Each node, the root
        included, is visited once: a node reached a second time (a
        cycle, or kids shared between nodes) is an EParseError, as
        pdf.js and MuPDF reject page-tree cycles."""
        res = self.parser._resolve
        pages_dict = self.catalog.get_dict("Pages", None, res)
        out: list[PageInfo] = []
        if pages_dict is None:
            soft("structure", "catalog has no /Pages")
            return out
        rect_memo: dict = {}  # id(box list) → Rect | None (walk-scoped)

        def rect_of_value(v):
            if v is None:
                return None
            # inherited boxes are usually ONE shared list object
            # across every page of the document — memoize the
            # Rect per list identity for the walk's lifetime
            hit = rect_memo.get(id(v), False)
            if hit is not False:
                return hit
            if (
                isinstance(v, list)
                and len(v) == 4
                and all(
                    isinstance(x, (int, float)) and not isinstance(x, bool)
                    for x in v
                )
            ):
                r = Rect.normalized(*[float(x) for x in v])
            else:
                r = None
            rect_memo[id(v)] = r
            return r

        # the tree root's own object number (-1 for a direct /Pages)
        pages_ref = self.catalog.get("Pages")
        root_num = pages_ref.num if pages_ref.__class__ is Ref else -1
        if _CTOK_WALK is not None:
            # fused C DFS — same traversal, inheritance, and error
            # contract as the Python walk below (parity-tested)
            rows = _CTOK_WALK(pages_dict, root_num, res)
            for num, mb, cb, rsc, cts, rot in rows:
                out.append(
                    PageInfo(
                        obj_num=num,
                        media_box=rect_of_value(mb),
                        crop_box=rect_of_value(cb),
                        resources=rsc,
                        contents=cts,
                        rotate=rot,
                    )
                )
            return out
        visited = {root_num}

        def walk(node: CDict, node_num: int, inherited: dict, depth: int) -> None:
            if depth > 64:
                raise EParseError("page tree too deep")
            # copy-on-write: leaf pages usually inherit everything, so
            # the per-node dict copy only happens when a node actually
            # overrides one of the four inheritable attributes
            inh = inherited
            for key in ("Resources", "MediaBox", "CropBox", "Rotate"):
                if key in node:
                    if inh is inherited:
                        inh = dict(inherited)
                    inh[key] = node.deref(node[key], res)
            ntype = node.get_name("Type")
            kids = node.get_array("Kids", None, res)
            if ntype == "Pages" or (ntype is None and kids is not None):
                if kids is None:
                    soft("structure", "/Pages node without /Kids")
                    return
                for kid in kids:
                    if not isinstance(kid, Ref):
                        raise EParseError("page-tree kid is not a reference")
                    if kid.num in visited:
                        raise EParseError("page tree node visited twice")
                    visited.add(kid.num)
                    knode = res(kid)
                    if not isinstance(knode, CDict):
                        raise EParseError(f"kid {kid} is not a dictionary")
                    walk(knode, kid.num, inh, depth + 1)
            else:
                # leaf page — box validation shared with the C-walk
                # consumer above so the two paths can't drift
                def rect_of(key):
                    return rect_of_value(inh.get(key))

                contents = []
                cv = node.deref(node.get("Contents", COS_NULL), res)
                if isinstance(cv, CStream):
                    contents = [cv]
                elif isinstance(cv, list):
                    for c in cv:
                        c = node.deref(c, res)
                        if isinstance(c, CStream):
                            contents.append(c)
                rot = inh.get("Rotate")
                out.append(
                    PageInfo(
                        obj_num=node_num,
                        media_box=rect_of("MediaBox"),
                        crop_box=rect_of("CropBox"),
                        resources=inh.get("Resources")
                        if isinstance(inh.get("Resources"), CDict)
                        else None,
                        contents=contents,
                        rotate=int(rot) if isinstance(rot, (int, float)) else 0,
                    )
                )

        walk(pages_dict, root_num, {}, 0)
        return out

    # ---- M7: info projection (model/PDFDocInfo.java:47-278) ----------
    def info_fields(self) -> dict:
        res = self.parser._resolve
        i = self.info
        g = lambda k: i.get_str(k, "", res)
        trapped = i.get_name("Trapped", None, res)
        return {
            "title": g("Title"),
            "author": g("Author"),
            "subject": g("Subject"),
            "keywords": g("Keywords"),
            "creator": g("Creator"),
            "producer": g("Producer"),
            "creation_date": g("CreationDate"),
            "mod_date": g("ModDate"),
            "trapped": str(trapped) if trapped is not None else "",
        }

    # ---- name and number trees (EXTENSION — the reference reads
    # neither; ISO 32000-1 §7.9.6 name trees, §7.9.7 number trees) ----
    def _walk_tree(self, root: CDict, leaf_key: str):
        """In-order (key, value) pairs of a name tree (``leaf_key``
        "Names", string keys) or a number tree ("Nums", integer keys):
        leaf arrays are [k1 v1 k2 v2 ...]; intermediate nodes recurse
        through /Kids (the /Limits bounds are advisory for lookup — a
        full scan ignores them). PERMISSIVE: malformed entries are
        skipped and a subtree reached a second time is read once;
        depth is guarded."""
        res = self.parser._resolve
        kind, key_type = ("name", CString) if leaf_key == "Names" else ("number", int)
        seen: set[int] = set()

        def walk(node: CDict, depth: int):
            if depth > 32:
                raise EParseError(f"{kind} tree too deep")
            if id(node) in seen:
                return
            seen.add(id(node))
            items = node.get_array(leaf_key, None, res)
            if items:
                for i in range(0, len(items) - 1, 2):
                    k = node.deref(items[i], res)
                    val = node.deref(items[i + 1], res)
                    if isinstance(k, key_type) and not isinstance(k, bool):
                        yield k, val
            kids = node.get_array("Kids", None, res)
            if kids:
                for kid in kids:
                    kd = node.deref(kid, res)
                    if isinstance(kd, CDict):
                        yield from walk(kd, depth + 1)

        return walk(root, 0)

    # ---- file attachments (EXTENSION, r4; §7.11.3/§7.11.4 file
    # specifications) --------------------------------------------------
    def embedded_files(self) -> list[dict]:
        """Catalog /Names → /EmbeddedFiles name tree → one row per
        attachment: tree key, /UF-or-/F filename, decoded size, md5 of
        the decoded bytes (corpus-building cares about the PAYLOAD,
        so the embedded stream is run through its /Filter chain)."""
        import hashlib

        from .filters import decode_stream

        res = self.parser._resolve
        names = self.catalog.get_dict("Names", None, res)
        if names is None:
            return []
        ef_root = names.get_dict("EmbeddedFiles", None, res)
        if ef_root is None:
            return []
        out = []
        for nm, fs in self._walk_tree(ef_root, "Names"):
            if not isinstance(fs, CDict):
                continue
            fname = fs.get_str("UF", "", res) or fs.get_str("F", "", res)
            efd = fs.get_dict("EF", None, res)
            stream = efd.get_stream("F", None, res) if efd is not None else None
            data = (
                decode_stream(stream.data, stream.dict, res)
                if stream is not None
                else b""
            )
            out.append(
                {
                    "att_name": nm.value,
                    "filename": fname,
                    "size": len(data),
                    "content_md5": hashlib.md5(data).hexdigest(),
                }
            )
        return out

    # ---- /PageLabels number tree (EXTENSION, r7 — the reference
    # reads no number trees; ISO 32000-1 §7.9.7 number trees +
    # §12.4.2 page-label ranges) --------------------------------
    def page_labels(self) -> list:
        """One display label per page, in page order (§12.4.2): each
        number-tree entry (start_page -> label dict) opens a range; a
        page's label is prefix /P + numeral(style /S, /St + offset). No
        /S -> the label is the prefix alone for every page in the range;
        no applicable range -> empty string (PERMISSIVE — the spec
        requires a range at page 0 but real files omit it)."""
        res = self.parser._resolve
        root = self.catalog.get_dict("PageLabels", None, res)
        n = self.page_count()
        if root is None:
            return [""] * n
        ranges = sorted(
            (
                (k, v)
                for k, v in self._walk_tree(root, "Nums")
                if isinstance(v, CDict) and 0 <= k
            ),
            key=lambda kv: kv[0],
        )
        out = []
        ri = -1
        for idx in range(n):
            while ri + 1 < len(ranges) and ranges[ri + 1][0] <= idx:
                ri += 1
            if ri < 0:
                out.append("")
                continue
            start, d = ranges[ri]
            style = d.get_name("S", None, res)
            prefix = d.get_str("P", "", res)
            st = d.deref(d.get("St"), res)  # /St may be indirect
            st = st if isinstance(st, int) and not isinstance(st, bool) else 1
            out.append(prefix + _format_page_label(str(style) if style else None,
                                                   st + (idx - start)))
        return out

    # ---- outline tree + link annotations (EXTENSION, r4 — the
    # reference reads neither; built from ISO 32000-1 §12.3.3 document
    # outlines and §12.5/§12.6.4.7 link annotations / URI actions) ----
    def outlines(self) -> list[tuple]:
        """DFS over the /Outlines tree: (ord, level, title) per item,
        /First→child before /Next→sibling (display order). Cycle- and
        depth-guarded; malformed items are skipped (PERMISSIVE)."""
        res = self.parser._resolve
        root = self.catalog.get_dict("Outlines", None, res)
        out: list[tuple] = []
        if root is None:
            return out
        seen: set[int] = set()

        def walk(node: Optional[CDict], level: int) -> None:
            while isinstance(node, CDict):
                if id(node) in seen or level > 32 or len(seen) > 10000:
                    return  # cycle / runaway guard
                seen.add(id(node))
                title = node.get_str("Title", "", res)
                if title:
                    out.append((len(out), level, title))
                first = node.get_dict("First", None, res)
                if first is not None:
                    walk(first, level + 1)
                node = node.get_dict("Next", None, res)

        walk(root.get_dict("First", None, res), 0)
        return out

    def struct_order(self, pages: list[PageInfo]) -> Optional[list]:
        """Logical reading order from the structure tree (ISO 32000-1
        §14.7, r8): depth-first walk over /StructTreeRoot → /K,
        emitting (page_idx, MCID) per marked-content leaf in
        traversal order — THE order a tagged document's text is meant
        to be read in, independent of content-stream paint order
        (multi-column pages). Both §14.7.4.2 leaf forms resolve: an
        integer MCID takes its page from the nearest ancestor's /Pg;
        an /MCR dict carries its own /Pg. /OBJR leaves (annotations)
        carry no content and are skipped. ``pages`` is the caller's
        ``pages()`` list, so the page tree is walked once. Returns None
        when the document is untagged (no /StructTreeRoot). Cycle-,
        depth- and fanout-guarded like the outline walk; malformed
        nodes are skipped (PERMISSIVE)."""
        res = self.parser._resolve
        root = self.catalog.get_dict("StructTreeRoot", None, res)
        if root is None:
            return None
        page_of = {p.obj_num: i for i, p in enumerate(pages)}
        out: list = []
        seen: set[int] = set()

        def pg_of(node: CDict) -> Optional[int]:
            v = node.get("Pg", None)
            if isinstance(v, Ref):
                return page_of.get(v.num)
            # a direct (non-Ref) /Pg can't be matched to a page object
            # number — treated as absent (§7.7.3.3 pages are always
            # indirect in practice; the generator emits Refs)
            return None

        def walk_k(v, pg: Optional[int], depth: int) -> None:
            if depth > 64 or len(out) > 100000:
                return  # runaway guard
            if isinstance(v, bool):
                return
            if isinstance(v, int):
                if pg is not None:
                    out.append((pg, v))
                return
            if isinstance(v, Ref):
                v = res(v)
            if isinstance(v, list):
                for item in v:
                    walk_k(item, pg, depth + 1)
                return
            if not isinstance(v, CDict):
                return
            if id(v) in seen or len(seen) > 10000:
                return  # cycle guard
            seen.add(id(v))
            here = pg_of(v)
            if here is None:
                here = pg
            t = v.get_name("Type", None, res)
            if t == "MCR":
                m = v.get_int("MCID", -1, res)
                if m >= 0 and here is not None:
                    out.append((here, m))
                return
            if t == "OBJR":
                return
            kk = v.get("K", None)
            if kk is not None:
                walk_k(kk, here, depth + 1)

        walk_k(root.get("K", None), None, 0)
        return out

    def form_fields(self) -> list[tuple]:
        """AcroForm field extraction (ISO 32000-1 §12.7): DFS over
        /AcroForm → /Fields → /Kids, emitting one row per TERMINAL
        field as (pos, full_name, ftype, value).  Full names join the
        partial /T chain with '.' (§12.7.3.2); /FT and /V inherit down
        the chain (§12.7.3.1 — the generator's nested group carries
        /FT on the parent only, so this walk is load-bearing).  Values
        normalize to text: strings decode, name values (checkbox
        states) stringify.  Cycle- and depth-guarded, PERMISSIVE on
        malformed nodes."""
        res = self.parser._resolve
        af = self.catalog.get_dict("AcroForm", None, res)
        out: list[tuple] = []
        if af is None:
            return out
        fields = af.get_array("Fields", None, res)
        if not fields:
            return out
        seen: set[int] = set()

        def walk(node, prefix: str, ftype, value, depth: int) -> None:
            nd = af.deref(node, res) if not isinstance(node, CDict) else node
            if not isinstance(nd, CDict):
                return
            if id(nd) in seen or depth > 32 or len(seen) > 10000:
                return  # cycle / runaway guard
            seen.add(id(nd))
            t = nd.get_str("T", "", res)
            full = f"{prefix}.{t}" if prefix and t else (t or prefix)
            ft = nd.get_name("FT", None, res) or ftype
            v = nd.get("V", None)
            if v is not None:
                v = nd.deref(v, res)
            if v is None:
                v = value
            kids = nd.get_array("Kids", None, res)
            if kids:
                # §12.7.3.2: kids WITHOUT /T are widget ANNOTATIONS of
                # a terminal field (one per page it renders on), not
                # child fields — recurse only when some kid is a real
                # child field, else emit this node once as terminal
                kid_dicts = [nd.deref(k, res) for k in kids]
                if any(
                    isinstance(kd, CDict) and kd.get_str("T", "", res)
                    for kd in kid_dicts
                ):
                    for kid in kids:
                        walk(kid, full, ft, v, depth + 1)
                    return
            # terminal field
            if isinstance(v, CString):
                sval = v.value
            elif v is not None and not isinstance(v, (CDict, list)):
                sval = str(v)
            else:
                sval = None
            out.append((len(out), full, str(ft) if ft else None, sval))

        for f in fields:
            walk(f, "", None, None, 0)
        return out

    def link_uris(self) -> list[tuple]:
        """(page_idx, uri) for every /Subtype /Link page annotation
        whose action is /S /URI — the link-graph projection a web-scale
        corpus pipeline extracts alongside text."""
        res = self.parser._resolve
        out: list[tuple] = []
        for idx, page in enumerate(self.pages()):
            node = self.parser._resolve(Ref(page.obj_num, 0))
            if not isinstance(node, CDict):
                continue
            annots = node.get_array("Annots", None, res)
            if not annots:
                continue
            for a in annots:
                ad = node.deref(a, res)
                if not isinstance(ad, CDict):
                    continue
                if ad.get_name("Subtype", None, res) != "Link":
                    continue
                act = ad.get_dict("A", None, res)
                if act is None or act.get_name("S", None, res) != "URI":
                    continue
                uri = act.get_str("URI", "", res)
                if uri:
                    out.append((idx, uri))
        return out

    # ---- M8: XML metadata (PDFDocCatalog.getXMLMetadata, :137-145) ---
    def xml_metadata(self) -> Optional[bytes]:
        s = self.catalog.get_stream("Metadata", None, self.parser._resolve)
        return s.data if s is not None else None

    # ---- M9: version / lang / layout / mode (PDFDocCatalog.java:119-188)
    def catalog_fields(self) -> dict:
        res = self.parser._resolve
        c = self.catalog
        ver = c.get_name("Version", None, res)
        mode = c.get_name("PageMode", None, res)
        layout = c.get_name("PageLayout", None, res)
        return {
            "version": str(ver) if ver else f"{self.parser.version[0]}.{self.parser.version[1]}",
            "lang": c.get_str("Lang", "", res),
            "page_mode": str(mode) if mode in PAGE_MODES else "UseNone",
            "page_layout": str(layout) if layout in PAGE_LAYOUTS else "SinglePage",
        }


_ROMAN = (
    (1000, "m"), (900, "cm"), (500, "d"), (400, "cd"), (100, "c"),
    (90, "xc"), (50, "l"), (40, "xl"), (10, "x"), (9, "ix"),
    (5, "v"), (4, "iv"), (1, "i"),
)


def _format_page_label(style, v: int) -> str:
    """§12.4.2 numbering styles: D decimal, R/r roman, A/a letters
    (A..Z, AA..ZZ, ...). Out-of-domain v (< 1) falls back to decimal,
    mirroring what viewers render."""
    if style is None:
        return ""
    if style == "D" or v < 1:
        return str(v)
    if style in ("R", "r"):
        out, rest = [], v
        for val, sym in _ROMAN:
            q, rest = divmod(rest, val)
            out.append(sym * q)
        s = "".join(out)
        return s.upper() if style == "R" else s
    if style in ("A", "a"):
        ch = chr(ord("a") + (v - 1) % 26)
        s = ch * ((v - 1) // 26 + 1)
        return s.upper() if style == "A" else s
    return str(v)
