"""HTML main-content extraction over the corpus (north rule: "HTML
boilerplate strip … DOM heuristics").

Same roundtrip-identity contract as the PDF pipelines: corpus text is
wrapped into a deterministic HTML page (link-heavy nav, header,
link-heavy aside, an <article> of 80-char <p> chunks, short footer),
then `kernel.htmlops.strip_boilerplate` must recover exactly the
article text ON MERIT — the DuckDB oracle reconstructs the expected
main text from the documents table, so a misclassified block breaks
the hash. Generation and stripping run in ONE mapInPandas stage: no
shuffle anywhere in the query (scan → UDF → result).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..engine import ensure_parallelism, per_doc
from ..kernel.htmlops import MIN_BLOCK_CHARS, main_content_blocks, strip_boilerplate
from ..kernel.htmlops import MAX_LINK_DENSITY  # r7: html_links oracle

CHUNK = 80  # article paragraph size — matches the PDF span chunking


def _esc(t: str) -> str:
    return t.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def wrap_html(doc_id: str, text: str) -> str:
    """Deterministic page: every boilerplate region is genuinely
    boilerplate-shaped (nav/aside are link-dense, footer is short), so
    the stripper cannot pass by cheating on tag names alone."""
    paras = "\n".join(
        f"<p>{_esc(text[i : i + CHUNK])}</p>" for i in range(0, len(text), CHUNK)
    )
    return f"""<!DOCTYPE html>
<html><head><title>doc {doc_id}</title>
<style>body {{ margin: 0; }} nav li {{ display: inline }}</style>
<script>function track() {{ return "doc {doc_id}"; }}</script>
</head><body>
<nav><ul><li><a href="/">Home</a></li><li><a href="/docs">Docs</a></li>
<li><a href="/about">About corp</a></li></ul></nav>
<header><h1><a href="/d/{doc_id}">doc {doc_id}</a></h1></header>
<aside><p>Subscribe to our newsletter <a href="/sub">Subscribe now</a>
<a href="/promo">Special offer</a></p></aside>
<article>
{paras}
</article>
<footer><p>&#169; 2024 corp</p></footer>
</body></html>"""


# fixed boilerplate text blocks per page: nav's 3 <li> texts, the
# header <h1>, the aside <p>, the footer <p> — pinned by
# tests/test_html.py::test_template_boiler_block_count
N_TEMPLATE_BOILER_BLOCKS = 6


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r9 scan-parallelism floor (guide §6): these queries are one
    # mapInPandas over the scan with no shuffle anywhere — correct at
    # 10^12 docs (thousands of splits) but SERIAL on the sandbox's
    # single-row-group parquet. ensure_parallelism conditionally
    # repartitions on doc_id so the Python stage fans out; row-wise
    # computation, so results are partition-invariant.
    return ensure_parallelism(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    )


def html_main_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, main_text): wrap → strip in one Arrow-batched stage."""

    def one(d, t):
        return [(d, strip_boilerplate(wrap_html(str(d), t or "")))]

    return per_doc(
        _docs(spark, sf_dir), one, "doc_id bigint, main_text string",
        ("doc_id", "text"),
    )


def html_block_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_kept, n_dropped, content_chars, boiler_chars): the
    block classifier's feature surface, per document."""

    def one(d, t):
        blocks = main_content_blocks(wrap_html(str(d), t or ""))
        kept = [b for b in blocks if b["keep"]]
        dropped = [b for b in blocks if not b["keep"]]
        return [(
            d,
            len(kept),
            len(dropped),
            sum(b["n_chars"] for b in kept),
            sum(b["n_chars"] for b in dropped),
        )]

    return per_doc(
        _docs(spark, sf_dir),
        one,
        "doc_id bigint, n_kept int, n_dropped int, "
        "content_chars bigint, boiler_chars bigint",
        ("doc_id", "text"),
    )


# --- oracles ---------------------------------------------------------------

# chunks mirror wrap_html: substr windows of CHUNK chars, trimmed by
# the stripper's whitespace normalization; blocks shorter than
# MIN_BLOCK_CHARS are classified boilerplate (threshold mirrored here)
_CHUNKS_CTE = f"""
WITH c AS (
  SELECT doc_id, trim(substr(text, CAST(i*{CHUNK}+1 AS INT), {CHUNK})) AS chunk,
         i
  FROM (SELECT doc_id, text,
               unnest(range(CAST(ceil(length(text)/{CHUNK}.0) AS BIGINT))) AS i
        FROM documents)
)
"""

HTML_MAIN_TEXT_SQL = (
    _CHUNKS_CTE
    + f"""
SELECT d.doc_id,
       coalesce(m.main_text, '') AS main_text
FROM documents d
LEFT JOIN (
  SELECT doc_id, string_agg(chunk, chr(10) ORDER BY i) AS main_text
  FROM c WHERE length(chunk) >= {MIN_BLOCK_CHARS}
  GROUP BY doc_id
) m ON m.doc_id = d.doc_id
"""
)

HTML_BLOCK_STATS_SQL = (
    _CHUNKS_CTE
    + f"""
SELECT d.doc_id,
       CAST(coalesce(k.n, 0) AS INT) AS n_kept,
       CAST({N_TEMPLATE_BOILER_BLOCKS} + coalesce(s.n, 0) AS INT) AS n_dropped,
       CAST(coalesce(k.chars, 0) AS BIGINT) AS content_chars,
       CAST(
         -- template boiler text: 'Home'(4) 'Docs'(4) 'About corp'(10)
         -- + 'doc <id>'(4+len) + aside(55) + footer '© 2024 corp'(11)
         4 + 4 + 10 + 4 + length(CAST(d.doc_id AS VARCHAR)) + 55 + 11
         + coalesce(s.chars, 0) AS BIGINT) AS boiler_chars
FROM documents d
LEFT JOIN (
  SELECT doc_id, count(*) AS n, sum(length(chunk)) AS chars
  FROM c WHERE length(chunk) >= {MIN_BLOCK_CHARS} GROUP BY doc_id
) k ON k.doc_id = d.doc_id
LEFT JOIN (
  SELECT doc_id, count(*) AS n, sum(length(chunk)) AS chars
  FROM c WHERE length(chunk) BETWEEN 1 AND {MIN_BLOCK_CHARS - 1} GROUP BY doc_id
) s ON s.doc_id = d.doc_id
"""
)


# --- r7: link-graph + heading-outline projections -------------------
# Separate page wrappers (wrap_html above must stay line-identical
# for the rotated-out r6-green rows): the linked variant plants an
# inline citation anchor in every third article paragraph, the
# sectioned variant a deterministic h2/h3 hierarchy.


def wrap_html_linked(doc_id: str, text: str) -> str:
    """wrap_html's template with inline article citations: every
    chunk j with j % 3 == 2 carries <a href="/ref/{doc_id}-{j}">."""
    paras = []
    for j, i in enumerate(range(0, len(text), CHUNK)):
        c = _esc(text[i : i + CHUNK])
        if j % 3 == 2:
            paras.append(
                f'<p>{c} <a href="/ref/{doc_id}-{j}">ref {j}</a></p>'
            )
        else:
            paras.append(f"<p>{c}</p>")
    body = "\n".join(paras)
    return f"""<!DOCTYPE html>
<html><head><title>doc {doc_id}</title></head><body>
<nav><ul><li><a href="/">Home</a></li><li><a href="/docs">Docs</a></li>
<li><a href="/about">About corp</a></li></ul></nav>
<header><h1><a href="/d/{doc_id}">doc {doc_id}</a></h1></header>
<aside><p>Subscribe to our newsletter <a href="/sub">Subscribe now</a>
<a href="/promo">Special offer</a></p></aside>
<article>
{body}
</article>
<footer><p>&#169; 2024 corp</p></footer>
</body></html>"""


def wrap_html_sections(doc_id: str, text: str) -> str:
    """Sectioned page: h2 every 4 chunks, h3 every 2 chunks — a
    deterministic heading hierarchy over the article text."""
    paras = []
    for j, i in enumerate(range(0, max(len(text), 1), CHUNK)):
        if j % 4 == 0:
            paras.append(f"<h2>Section {j // 4 + 1}</h2>")
        if j % 2 == 0:
            paras.append(f"<h3>Part {j // 4 + 1}.{(j // 2) % 2 + 1}</h3>")
        paras.append(f"<p>{_esc(text[i : i + CHUNK])}</p>")
    body = "\n".join(paras)
    return f"""<!DOCTYPE html>
<html><head><title>doc {doc_id}</title></head><body>
<header><h1>doc {doc_id}</h1></header>
<article>
{body}
</article>
<footer><p>&#169; 2024 corp</p></footer>
</body></html>"""


def html_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, ord, href, anchor, in_main): the outlink graph with
    main-content classification — template (nav/header/aside) links
    classify boilerplate, article citations classify in_main unless
    their paragraph fails the density/length gate (short final chunks
    flip to boilerplate ON MERIT; the oracle re-derives that edge).
    One mapInPandas stage, zero shuffles."""
    from ..kernel.htmlops import link_rows as _lr

    def one(d, t):
        links = _lr(wrap_html_linked(str(d), t or ""))
        return [(d, o, *link) for o, link in enumerate(links)]

    return per_doc(
        _docs(spark, sf_dir),
        one,
        "doc_id bigint, ord int, href string, anchor string, in_main boolean",
        ("doc_id", "text"),
    )


def html_outline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, ord, level, title): heading hierarchy in document
    order — the HTML analog of pdf_outlines. One mapInPandas stage."""
    from ..kernel.htmlops import heading_outline as _ho

    def one(d, t):
        return [(d, *h) for h in _ho(wrap_html_sections(str(d), t or ""))]

    return per_doc(
        _docs(spark, sf_dir), one, "doc_id bigint, ord int, level int, title string",
        ("doc_id", "text"),
    )


# boiler link rows: (ord, href-needs-id?, href, anchor-needs-id?, anchor)
_BOILER_LINKS_SQL = """
  SELECT d.doc_id, b.ord, b.href_pre || CASE WHEN b.with_id THEN CAST(d.doc_id AS VARCHAR) ELSE '' END AS href,
         b.anchor_pre || CASE WHEN b.with_id THEN CAST(d.doc_id AS VARCHAR) ELSE '' END AS anchor,
         FALSE AS in_main
  FROM documents d, (
    VALUES (0, '/', 'Home', FALSE), (1, '/docs', 'Docs', FALSE),
           (2, '/about', 'About corp', FALSE), (3, '/d/', 'doc ', TRUE),
           (4, '/sub', 'Subscribe now', FALSE),
           (5, '/promo', 'Special offer', FALSE)
  ) b(ord, href_pre, anchor_pre, with_id)
"""

HTML_LINKS_SQL = f"""
WITH c AS (
  SELECT doc_id, i, trim(substr(text, CAST(i*{CHUNK}+1 AS INT), {CHUNK})) AS chunk
  FROM (SELECT doc_id, text,
               unnest(range(CAST(ceil(length(text)/{CHUNK}.0) AS BIGINT))) AS i
        FROM documents)
),
art AS (
  SELECT doc_id, i,
         '/ref/' || CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR) AS href,
         'ref ' || CAST(i AS VARCHAR) AS anchor,
         -- block text = trim(chunk) ' ' anchor (or anchor alone when
         -- the chunk trims empty); keep = length + density gates
         CASE WHEN length(chunk) = 0
              THEN length('ref ' || CAST(i AS VARCHAR))
              ELSE length(chunk) + 1 + length('ref ' || CAST(i AS VARCHAR))
         END AS n,
         length('ref ' || CAST(i AS VARCHAR)) AS linked
  FROM c WHERE i % 3 = 2
),
artk AS (
  SELECT doc_id, i, href, anchor,
         (n >= {MIN_BLOCK_CHARS}
          AND CAST(linked AS DOUBLE) / n <= {MAX_LINK_DENSITY}) AS in_main,
         5 + row_number() OVER (PARTITION BY doc_id ORDER BY i) AS ord
  FROM art
)
SELECT doc_id, CAST(ord AS INT) AS ord, href, anchor, in_main FROM (
  {_BOILER_LINKS_SQL}
  UNION ALL
  SELECT doc_id, ord, href, anchor, in_main FROM artk
)
"""

HTML_OUTLINE_SQL = f"""
WITH ck AS (
  SELECT doc_id,
         unnest(range(CAST(greatest(1, ceil(length(text)/{CHUNK}.0)) AS BIGINT))) AS j
  FROM documents
),
h AS (
  SELECT doc_id, -1 AS j, 0 AS pri, 1 AS level,
         'doc ' || CAST(doc_id AS VARCHAR) AS title
  FROM documents
  UNION ALL
  SELECT doc_id, j, 0 AS pri, 2 AS level,
         'Section ' || CAST(j // 4 + 1 AS VARCHAR) AS title
  FROM ck WHERE j % 4 = 0
  UNION ALL
  SELECT doc_id, j, 1 AS pri, 3 AS level,
         'Part ' || CAST(j // 4 + 1 AS VARCHAR) || '.' ||
                    CAST((j // 2) % 2 + 1 AS VARCHAR) AS title
  FROM ck WHERE j % 2 = 0
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY j, pri) - 1
            AS INT) AS ord,
       CAST(level AS INT) AS level, title
FROM h
"""


def queries():
    return {
        "html_main_text": html_main_text,
        "html_block_stats": html_block_stats,
        "html_links": html_links,
        "html_outline": html_outline,
    }


def oracles():
    return {
        "html_main_text": HTML_MAIN_TEXT_SQL,
        "html_block_stats": HTML_BLOCK_STATS_SQL,
        "html_links": HTML_LINKS_SQL,
        "html_outline": HTML_OUTLINE_SQL,
    }
