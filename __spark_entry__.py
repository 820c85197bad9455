"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is a Spark pipeline ``(spark, sf_dir) →
DataFrame``; each ``oracle_sql()`` entry is the ANSI-SQL ground truth
DuckDB computes over the same parquet views. The PDF pipelines are
declared once, in ``pdfspark.engine.queries()``; every ``pdfspark.ops``
module declares its own ``queries()`` (``register_ops_queries``). This
module only merges the two tables and moves the driver window to the
front.

For the PDF pipelines the oracle works because the
engine's correctness contract is ROUND-TRIP IDENTITY: the interleaved
spans table is synthesized from ``documents`` with deterministic,
SQL-expressible logic (see pdfspark/engine.py:_SPANS_EXPR ==
_SPANS_CTE below == pdfspark/codec.py:synth_spans_py), serialized to
PDF bytes, and extracted back — so the expected output IS the
synthesis, which DuckDB can compute directly.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SF_SMOKE = "/root/testdata/sf0.001"

# The spans-synthesis CTE — the DuckDB mirror of
# pdfspark/engine.py:_SPANS_EXPR and codec.synth_spans_py.
_SPANS_CTE = """
WITH c AS (
  SELECT doc_id, text,
         unnest(range(CAST(ceil(length(text)/80.0) AS BIGINT))) AS i
  FROM documents
)
"""

_SPANS_ORACLE_SQL = (
    _SPANS_CTE
    + """
SELECT doc_id, CAST(i + i // 3 AS INT) AS "offset", 'text' AS kind,
       substr(text, CAST(i*80+1 AS INT), 80) AS text,
       CAST(NULL AS VARCHAR) AS media_ref
FROM c
UNION ALL
SELECT doc_id, CAST(i + i // 3 + 1 AS INT) AS "offset", 'media' AS kind,
       CAST(NULL AS VARCHAR) AS text,
       'm' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 16)
         AS media_ref
FROM c WHERE i % 3 = 2
"""
)


# spans identity with the generator's a-z → U+4E00.. transliteration
# applied (the cjk:hanzi contract); mapping mirrored from
# codec._HANZI_TRANS 1:1 so chunk boundaries are unchanged
def _translit_oracle_sql(cp0: int) -> str:
    to = "".join(chr(cp0 + i) for i in range(26))
    return _SPANS_ORACLE_SQL.replace(
        "substr(text, CAST(i*80+1 AS INT), 80) AS text",
        "translate(substr(text, CAST(i*80+1 AS INT), 80),"
        f" 'abcdefghijklmnopqrstuvwxyz', '{to}') AS text",
    )


_HANZI_ORACLE_SQL = _translit_oracle_sql(0x4E00)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: full round-trip extraction (mixed structural
    variants) on sf0.001."""
    from pdfspark.engine import roundtrip_rows

    return roundtrip_rows(spark, SF_SMOKE, variant="mixed")


# The driver's CORRECTNESS check covers the FIRST 50 registered
# queries (registration order == dict insertion order).  Every query
# must carry a driver row in some round with code unchanged since, so
# each round this list rotates: queries whose code CHANGED this round
# (or that have never been driver-checked) come first; the tail —
# rotated outside the window — must stay byte-identical to the commit
# of their last green row.  r8 window: the 3 NEW r8 surfaces
# (pdf_reading_order — structure-tree traversal, pdf_roundtrip_nospace
# — word-boundary inference, bpe_merges — the N-round trainer), then
# the 6 r8-changed rows (pdf_mutation_golden: manifest grew 84→180
# with generator-variant seeds; media_decode_real: 4:2:0 + restart-
# interval JPEG variants, rotation %8; ann_ivf_topk/ann_ivf_cells:
# distributed integer k-means trainer + N/λ geometry; semantic_dedup:
# same trainer PLUS the late-r8 paper keep-rule (centroid-sim rank);
# pdf_roundtrip_interleaved: the flagship through the r8 extract.py
# reading-order refactor), then
# ALL 41 two-round-stale r6-green rows (every registered query is
# driver-checked in r7 or r8 — the ≤2-round invariant, exactly 50).
# Rotated OUT (all r7-green, one round stale, code untouched since
# their green row except the shared-kernel rows re-proven by the
# in-window pdf set): gb1/cns1/korea1, page_labels, html_links/
# outline, dedup_substring/skipped_buckets/incremental, corpus_mix/
# sample/profile/quantiles/curate, chunk_boilerplate, bpe_pair_topk,
# ann_pq_topk, token_count/fingerprint/normalize/windows, bm25_topk,
# gopher_quality_flags, rep_signals, pack_sequences, unigram_rarity,
# benchmark_contamination, relational ×7, stream_window/user_counts,
# pdf_roundtrip_objstream/incremental/encrypted/cjk_embedded,
# pdf_salvage, pdf_reference_golden, pdf_malformed_golden,
# top_documents.
_DRIVER_WINDOW = [
    # --- NEW in r8 ---------------------------------------------------
    "pdf_reading_order",
    "pdf_roundtrip_nospace",
    "bpe_merges",
    # --- changed in r8 -----------------------------------------------
    "pdf_mutation_golden",
    "media_decode_real",
    "ann_ivf_topk",
    "ann_ivf_cells",
    "semantic_dedup",
    "pdf_roundtrip_interleaved",
    # --- two-round-stale refresh (r6-green, outside the r7 window) ---
    "pdf_roundtrip_filters",
    "pdf_roundtrip_cjk",
    "pdf_roundtrip_hanzi",
    "pdf_roundtrip_japan1",
    "pdf_roundtrip_forms",
    "pdf_roundtrip_type3",
    "pdf_roundtrip_pubsec",
    "pdf_salvage_encrypted",
    "pdf_span_geometry",
    "pdf_span_geometry_cid",
    "pdf_span_geometry_kerned",
    "pdf_span_geometry_type3",
    "pdf_attachments",
    "pdf_outlines",
    "pdf_links",
    "pdf_form_fields",
    "pdf_malformed_policy",
    "pdf_metadata",
    "pdf_dates",
    "pdf_span_stats",
    "pdf_catalog_fields",
    "dedup_exact",
    "dedup_minhash_pairs",
    "dedup_clusters",
    "dedup_simhash",
    "ngram_jaccard",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "embed_neardup_pairs",
    "text_quality",
    "lang_id",
    "corpus_split",
    "media_meta",
    "media_frames",
    "media_audio_meta",
    "media_video_frames",
    "html_main_text",
    "html_block_stats",
    "pdf_stream_extract",
    "stream_append_counts",
    "stream_dedup_events",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from pdfspark.engine import queries as pdf_queries
    from pdfspark.ops import register_ops_queries

    q = {**pdf_queries(), **register_ops_queries()}
    # Rotate the driver's 50-query window to the front (see
    # _DRIVER_WINDOW); everything else keeps registration order after.
    ordered = {k: q[k] for k in _DRIVER_WINDOW if k in q}
    ordered.update({k: v for k, v in q.items() if k not in ordered})
    return ordered


def _roman_lower(v):
    out = []
    for val, sym in (
        (1000, "m"), (900, "cm"), (500, "d"), (400, "cd"), (100, "c"),
        (90, "xc"), (50, "l"), (40, "xl"), (10, "x"), (9, "ix"),
        (5, "v"), (4, "iv"), (1, "i"),
    ):
        q, v = divmod(v, val)
        out.append(sym * q)
    return "".join(out)


ROM_MAX = 1024  # v <= St_max(3) + n_pages - 1; today's corpora cap at
# n_pages ~8 (sf0.1, PL_REP=4) but the kernel formats ANY value, so the
# oracle's table must outrun plausible page counts — 1024 covers texts
# up to ~82k chars; beyond that DuckDB's out-of-range index yields NULL
# and the driver hash catches the divergence loudly rather than silently


def _page_labels_oracle_sql() -> str:
    from pdfspark.engine import PL_REP

    rom = "[" + ",".join(f"'{_roman_lower(i)}'" for i in range(1, ROM_MAX + 1)) + "]"
    styles = "['D','R','r','A','a']"

    def numeral(style: str, v: str) -> str:
        return f"""CASE {style}
      WHEN 'D' THEN CAST({v} AS VARCHAR)
      WHEN 'R' THEN upper(rom[{v}])
      WHEN 'r' THEN rom[{v}]
      WHEN 'A' THEN upper(repeat(chr(CAST(97 + ({v} - 1) % 26 AS INT)),
                                 CAST(({v} - 1) // 26 + 1 AS INT)))
      ELSE repeat(chr(CAST(97 + ({v} - 1) % 26 AS INT)),
                  CAST(({v} - 1) // 26 + 1 AS INT))
    END"""

    return f"""
WITH pc AS (
  SELECT doc_id,
         CAST(greatest(1, ceil((k + k // 3) / 5.0)) AS BIGINT) AS n_pages
  FROM (SELECT doc_id,
               CAST(ceil((length(text) * {PL_REP}) / 80.0) AS BIGINT) AS k
        FROM documents)
),
pages AS (
  SELECT doc_id, n_pages, unnest(range(n_pages)) AS p,
         {rom} AS rom, {styles} AS sty
  FROM pc
)
SELECT doc_id, CAST(p AS INT) AS page_idx,
  CASE WHEN n_pages >= 3 AND p >= 2 THEN
    'x' || CAST(doc_id % 10 AS VARCHAR) || '-' ||
    CASE WHEN doc_id % 7 = 0 THEN ''
    ELSE {numeral("sty[CAST(doc_id // 5 % 5 AS INT) + 1]", "1 + p - 2")}
    END
  ELSE {numeral("sty[CAST(doc_id % 5 AS INT) + 1]", "doc_id % 3 + 1 + p")}
  END AS label
FROM pages
"""


def oracle_sql() -> dict[str, str]:
    from pdfspark.fuzz import manifest_sql
    from pdfspark.ops import register_ops_oracles

    # k = ceil(len/80) text chunks; media after every i%3==2 →
    # n_spans = k + k//3 ; pages hold 5 spans → page_count =
    # greatest(1, ceil(n_spans/5)) (codec.SPANS_PER_PAGE)
    meta_sql = """
SELECT doc_id, 'ok' AS status,
       'doc ' || CAST(doc_id AS VARCHAR) AS title,
       'pdfspark-gen' AS author,
       'synthetic' AS subject,
       'spans=' || CAST(k + k // 3 AS VARCHAR) AS keywords,
       CAST(greatest(1, ceil((k + k // 3) / 5.0)) AS INT) AS page_count,
       'UseNone' AS page_mode,
       'SinglePage' AS page_layout,
       FALSE AS encrypted
FROM (SELECT doc_id, CAST(ceil(length(text)/80.0) AS BIGINT) AS k FROM documents)
"""
    malformed_sql = """
SELECT doc_id,
       CASE WHEN doc_id % 17 = 0 THEN 'error' ELSE 'ok' END AS status,
       CAST(CASE WHEN doc_id % 17 = 0 THEN 0 ELSE k + k // 3 END AS INT) AS n_spans
FROM (SELECT doc_id, CAST(ceil(length(text)/80.0) AS BIGINT) AS k FROM documents)
"""
    from pdfspark.ops.multimodal import _hex_to_int

    h8 = _hex_to_int("md5(CAST(doc_id AS VARCHAR))", 1, 8)
    # attachments: n_att = 1 + (md5(doc_id)[7:8 hex] % 3); content of
    # attachment k is the 32-char md5 hex of 'doc_id:att:k' (so size
    # is always 32 and content_md5 = md5 of that hex string)
    h_att = _hex_to_int("md5(CAST(doc_id AS VARCHAR))", 7, 2)
    # outlines: n_top = 1 + (md5[9:10 hex] % 3); top item i sits at
    # DFS position i + 2·⌈i/2⌉ (every even item carries 2 children)
    h_nav = _hex_to_int("md5(CAST(doc_id AS VARCHAR))", 9, 2)
    outlines_sql = f"""
WITH n AS (SELECT doc_id, 1 + ({h_nav}) % 3 AS n_top FROM documents),
i AS (SELECT doc_id, unnest(range(n_top)) AS i FROM n),
base AS (SELECT doc_id, i, i + 2 * ((i + 1) // 2) AS p0 FROM i)
SELECT doc_id, CAST(p0 AS INT) AS pos, CAST(0 AS INT) AS level,
       'sec' || CAST(i AS VARCHAR) AS title
FROM base
UNION ALL
SELECT doc_id, CAST(p0 + 1 + j AS INT) AS pos, CAST(1 AS INT) AS level,
       'sec' || CAST(i AS VARCHAR) || '.' || CAST(j AS VARCHAR) AS title
FROM (SELECT doc_id, i, p0, unnest(range(2)) AS j FROM base WHERE i % 2 = 0)
"""
    links_sql = """
WITH pc AS (
  SELECT doc_id,
         CAST(greatest(1, ceil((k + k // 3) / 5.0)) AS BIGINT) AS n_pages
  FROM (SELECT doc_id, CAST(ceil(length(text)/80.0) AS BIGINT) AS k
        FROM documents)
)
SELECT doc_id, CAST(p AS INT) AS page_idx,
       'https://example.org/' || CAST(doc_id AS VARCHAR) || '/'
         || CAST(p AS VARCHAR) AS uri
FROM (SELECT doc_id, unnest(range(n_pages)) AS p FROM pc)
"""
    # AcroForm fields: n = 1 + (md5(doc_id)[13:14 hex] % 5) = 1-5 terminal
    # fields; when n >= 2 fields 0-1 nest under 'grp' (inherited Tx);
    # others rotate Tx/Btn/Ch by k%3; values closed-form in
    # md5(doc_id:fld:k); DFS position == k
    h_frm = _hex_to_int("md5(CAST(doc_id AS VARCHAR))", 13, 2)
    form_fields_sql = f"""
WITH n AS (SELECT doc_id, 1 + ({h_frm}) % 5 AS n_fld FROM documents),
k AS (SELECT doc_id, n_fld, unnest(range(n_fld)) AS k FROM n),
t AS (
  SELECT doc_id, k,
         CASE WHEN n_fld >= 2 AND k < 2 THEN 'grp.f' || CAST(k AS VARCHAR)
              ELSE 'f' || CAST(k AS VARCHAR) END AS name,
         CASE WHEN n_fld >= 2 AND k < 2 THEN 'Tx'
              WHEN k % 3 = 0 THEN 'Tx'
              WHEN k % 3 = 1 THEN 'Btn'
              ELSE 'Ch' END AS ftype,
         md5(CAST(doc_id AS VARCHAR) || ':fld:' || CAST(k AS VARCHAR)) AS h
  FROM k
)
SELECT doc_id, CAST(k AS INT) AS pos, name, ftype,
       CASE ftype
         WHEN 'Tx' THEN 'v' || CAST(k AS VARCHAR) || '-' || substr(h, 1, 8)
         WHEN 'Btn' THEN CASE WHEN k % 2 = 0 THEN 'Yes' ELSE 'Off' END
         ELSE 'c' || substr(h, 1, 4) END AS value
FROM t
"""
    # real-PDF golden table: metadata values ARE the reference's own
    # test expectations (ComplexTest.java:16-207); span count/digest
    # columns regression-pin this engine's text-op layer
    reference_golden_sql = """
SELECT * FROM (VALUES
  ('24c16.pdf', 'SERIAL 16K (2K X 8) EEPROM',
   'SGS-THOMSON Microelectronics', 17, 'UseThumbs', 'ok',
   CAST(295 AS BIGINT), 'f20168be75267516'),
  ('vrml.pdf', 'PDF', 'Software 995', 5, 'UseOutlines', 'ok',
   CAST(157 AS BIGINT), '1cae6f8d3262186e'),
  ('Creativecommons-what-is-creative-commons_eng.pdf', '', '', 1,
   'UseNone', 'ok', CAST(3 AS BIGINT), '083643e425ec89b2'),
  ('loremipsum2.pdf', 'Lorem Ipsum', 'Anton Golinko', 3, 'UseNone',
   'ok', CAST(128 AS BIGINT), '80d822590c0042cb'),
  ('6licenses-flat.pdf', '', '', 1, 'UseNone', 'ok',
   CAST(10 AS BIGINT), 'bab394e7e37d9b21'),
  ('1 - minimal by adobe.pdf', '', '', 1, 'UseNone', 'ok',
   CAST(1 AS BIGINT), '519f17bf67681ce1'),
  ('1 - minimal_crlf.pdf', '', '', 1, 'UseNone', 'ok',
   CAST(1 AS BIGINT), '519f17bf67681ce1')
) AS t(fname, title, author, page_count, page_mode, status, n_spans,
       spans_md5)
"""
    # malformed golden table: the reference's must-throw corpus —
    # every parseable file errors with EParseError and zero spans; the
    # zero-byte file is dropped by Spark's binaryFile source, a
    # documented divergence asserted as its own row
    malformed_golden_sql = """
SELECT * FROM (VALUES
  ('noise.pdf', 'error', 'EParseError', CAST(0 AS BIGINT)),
  ('only_header.pdf', 'error', 'EParseError', CAST(0 AS BIGINT)),
  ('only_header_eof.pdf', 'error', 'EParseError', CAST(0 AS BIGINT)),
  ('zerosizedfile.pdf', 'dropped_by_source', 'zero_byte_file',
   CAST(0 AS BIGINT))
) AS t(fname, status, err_class, n_spans)
"""
    attachments_sql = f"""
WITH n AS (SELECT doc_id, 1 + ({h_att}) % 3 AS n_att FROM documents),
k AS (SELECT doc_id, unnest(range(n_att)) AS k FROM n)
SELECT doc_id,
       'att' || CAST(k AS VARCHAR) || '.txt' AS att_name,
       'att' || CAST(k AS VARCHAR) || '.txt' AS filename,
       CAST(32 AS INT) AS size,
       md5(md5(CAST(doc_id AS VARCHAR) || ':att:' || CAST(k AS VARCHAR)))
         AS content_md5
FROM k
"""
    dates_sql = "\nSELECT doc_id,\n       'D:202401' || lpad(CAST(1 + h % 28 AS VARCHAR), 2, '0')\n                  || lpad(CAST((h // 256) % 24 AS VARCHAR), 2, '0')\n                  || lpad(CAST((h // 65536) % 60 AS VARCHAR), 2, '0')\n                  || '33+02''00''' AS creation_date,\n       make_timestamp(2024, 1, CAST(1 + h % 28 AS INT),\n                      CAST((h // 256) % 24 AS INT),\n                      CAST((h // 65536) % 60 AS INT), 33)\n         - INTERVAL 2 HOUR AS creation_ts\nFROM (SELECT doc_id, {h8} AS h FROM documents)\n".format(h8=h8)
    o = {
        "pdf_catalog_fields": "\nSELECT doc_id, lang,\n       CASE doc_id % 6\n         WHEN 0 THEN 'UseNone' WHEN 1 THEN 'UseOutlines'\n         WHEN 2 THEN 'UseThumbs' WHEN 3 THEN 'FullScreen'\n         WHEN 4 THEN 'UseOC' ELSE 'UseAttachments' END AS page_mode\nFROM documents\n",
        "pdf_span_stats": "\nWITH c AS (\n  SELECT doc_id, text,\n         unnest(range(CAST(ceil(length(text)/80.0) AS BIGINT))) AS i\n  FROM documents\n),\nspans AS (\n  SELECT doc_id, 'text' AS kind, length(substr(text, CAST(i*80+1 AS INT), 80)) AS tlen\n  FROM c\n  UNION ALL\n  SELECT doc_id, 'media' AS kind, 0 AS tlen FROM c WHERE i % 3 = 2\n)\nSELECT d.lang, s.kind, CAST(count(*) AS BIGINT) AS n_spans,\n       CAST(sum(s.tlen) AS BIGINT) AS text_chars,\n       CAST(count(DISTINCT s.doc_id) AS BIGINT) AS n_docs\nFROM spans s JOIN documents d ON d.doc_id = s.doc_id\nGROUP BY d.lang, s.kind\n",
        "pdf_dates": dates_sql,
        "pdf_roundtrip_interleaved": _SPANS_ORACLE_SQL,
        "pdf_roundtrip_objstream": _SPANS_ORACLE_SQL,
        "pdf_roundtrip_incremental": _SPANS_ORACLE_SQL,
        "pdf_roundtrip_filters": _SPANS_ORACLE_SQL,
        # decryption is lossless: RC4/AES docs must roundtrip to the
        # exact same spans as every other structural variant
        "pdf_roundtrip_encrypted": _SPANS_ORACLE_SQL,
        # Type0 + predefined GBK-EUC-H CMap without ToUnicode: decoding
        # via the CMap's byte encoding must be lossless (ASCII corpus
        # here; multi-byte CJK pinned in tests/test_cjk.py)
        "pdf_roundtrip_cjk": _SPANS_ORACLE_SQL,
        # Type0 + fully custom EMBEDDED /Encoding CMap stream, no
        # ToUnicode: codespacerange/cidrange/cidchar/bfchar/bfrange are
        # parsed from the file itself; decode must be lossless (ASCII
        # corpus rides the 1-byte space; multi-byte pins in test_cjk.py)
        "pdf_roundtrip_cjk_embedded": _SPANS_ORACLE_SQL,
        # REAL-CJK extraction (r6): the generator transliterates a-z →
        # U+4E00.. and shows the hanzi via GBK-EUC-H with NO ToUnicode;
        # the oracle applies the same 1:1 translate() — extracted text
        # must be the actual CJK, decoded via the CMap byte encoding
        "pdf_roundtrip_hanzi": _HANZI_ORACLE_SQL,
        # Adobe-Japan1 character-collection decode (r6): codes → CIDs
        # 1-94 with no bf/ToUnicode — only the registered CID→Unicode
        # collection table (kernel/cidcollections.py) recovers the
        # text, so plain spans identity IS the check
        "pdf_roundtrip_japan1": _SPANS_ORACLE_SQL,
        # tagged reading order (r8): content paints sections in
        # scrambled two-column order; the identity holds only when
        # extraction re-sequences spans by structure-tree traversal
        # (§14.8) — so plain spans identity IS the reading-order check
        "pdf_reading_order": _SPANS_ORACLE_SQL,
        # no space glyphs painted (r8): every ' ' is a positioning
        # gap; identity holds only via the word-boundary heuristic
        "pdf_roundtrip_nospace": _SPANS_ORACLE_SQL,
        # r7 collection breadth: GB1/CNS1/Korea1 — ASCII rides the
        # proportional-Roman CIDs 1-95; a-z transliterates into each
        # collection's 26-glyph CJK/hangul block carried by
        # out-of-band demo-supplement CIDs loaded via the cid2code
        # deployment hook; no bf/ToUnicode anywhere
        "pdf_roundtrip_gb1": _translit_oracle_sql(0x4E00),
        "pdf_roundtrip_cns1": _translit_oracle_sql(0x9E00),
        "pdf_roundtrip_korea1": _translit_oracle_sql(0xAC00),
        # Form XObjects: half the text spans render through /FmK Do
        # (rotating /Matrix + own-vs-inherited /Resources) — the
        # interpreter recursion must preserve the exact span sequence
        "pdf_roundtrip_forms": _SPANS_ORACLE_SQL,
        # Type3 glyph-procedure fonts: byte codes decode through the
        # /Differences → AGL table; extraction must be lossless
        "pdf_roundtrip_type3": _SPANS_ORACLE_SQL,
        # certificate-based (public-key) encryption, §7.6.5: CMS
        # recipient envelope → SHA-1 file key → AESV2 object crypt;
        # decryption is lossless → same spans-identity oracle
        "pdf_roundtrip_pubsec": _SPANS_ORACLE_SQL,
        # §C.2 reconstruction: startxref-less payloads must salvage to
        # the identical span sequence
        "pdf_salvage": _SPANS_ORACLE_SQL,
        # reconstruction × encryption: ciphered startxref-less docs
        # (cipher AND layout rotated) must salvage losslessly too
        "pdf_salvage_encrypted": _SPANS_ORACLE_SQL,
        # span geometry: the generator lays pages out deterministically
        # (codec._content_for: 5 spans/page, y from 720 stepping -16
        # per text / -60 per media span; x=10; show-forms 2-3 perform
        # an implicit T* next-line move of TL=14; media placed by a
        # 100×50 cm) — so expected (x, y, w, h) is closed-form SQL.
        # text width = the full §9.4.4 advance ((w0/1000)·12 + Tc·n +
        # Tw·spaces)·Th with the generator's constant 500/1000-em
        # /Widths and per-form Tc/Tw/Tz (codec._content_for): every
        # factor is an exact binary fraction, so the sums are IEEE
        # bit-identical in any association order:
        #   j%4=0: 6.25·len + 0.5·spaces     (Tc .25, Tw .5, Th 1)
        #   j%4=1: 3·len                     (Th .5; TJ kern excluded)
        #   j%4=2: 6.125·len                 (Tc .125)
        #   j%4=3: 3.5·len + spaces          (" sets Tw 2 Tc 1; Th .5)
        "pdf_span_geometry": _SPANS_CTE
        + """,
s AS (
  SELECT doc_id, CAST(i + i // 3 AS INT) AS off, 'text' AS kind,
         length(substr(text, CAST(i*80+1 AS INT), 80)) AS tlen,
         length(substr(text, CAST(i*80+1 AS INT), 80))
           - length(replace(substr(text, CAST(i*80+1 AS INT), 80), ' ', ''))
           AS nsp
  FROM c
  UNION ALL
  SELECT doc_id, CAST(i + i // 3 + 1 AS INT) AS off, 'media' AS kind,
         0 AS tlen, 0 AS nsp
  FROM c WHERE i % 3 = 2
),
p AS (
  SELECT doc_id, off, kind, tlen, nsp, off // 5 AS pg, off % 5 AS j,
         CASE WHEN kind = 'text' THEN 16 ELSE 60 END AS dy
  FROM s
),
wk AS (
  SELECT doc_id, off, kind, tlen, nsp, j,
         720 - (SUM(dy) OVER (PARTITION BY doc_id, pg ORDER BY j) - dy) AS ybase
  FROM p
)
SELECT doc_id, off AS "offset", kind,
       CAST(10.0 AS DOUBLE) AS x,
       CAST(CASE WHEN kind = 'media' THEN ybase
                 WHEN j % 4 IN (2, 3) THEN ybase - 14
                 ELSE ybase END AS DOUBLE) AS y,
       CAST(CASE WHEN kind = 'media' THEN 100.0
                 WHEN j % 4 = 0 THEN 6.25 * tlen + 0.5 * nsp
                 WHEN j % 4 = 1 THEN 3.0 * tlen
                 WHEN j % 4 = 2 THEN 6.125 * tlen
                 ELSE 3.5 * tlen + nsp END AS DOUBLE) AS w,
       CAST(CASE WHEN kind = 'media' THEN 50.0 ELSE 12.0 END AS DOUBLE) AS h
FROM wk
""",
        "pdf_malformed_policy": malformed_sql,
        "pdf_metadata": meta_sql,
        "pdf_attachments": attachments_sql,
        # the production STREAMING sink must produce the identical
        # span table the batch pipeline does — same identity oracle
        "pdf_stream_extract": _SPANS_ORACLE_SQL,
        # the watermarked streaming window agg equals its batch twin →
        # same SQL oracle (bound below after ops oracles register)
        "pdf_outlines": outlines_sql,
        "pdf_links": links_sql,
        "pdf_form_fields": form_fields_sql,
        "pdf_reference_golden": reference_golden_sql,
        "pdf_malformed_golden": malformed_golden_sql,
        # mutation-fuzz manifest: pinned per-mutant outcomes generated
        # serially by tools/gen_mutation_manifest.py (deterministic
        # seeded corruption of the reference's own sample PDFs)
        "pdf_mutation_golden": manifest_sql(),
        "pdf_page_labels": _page_labels_oracle_sql(),
    }
    # geometry through the Type0 embedded-CMap font: the generator's
    # /W [0 127 500] + /DW 1000 give ASCII the same 500/1000-em advance
    # as the simple font, and word spacing applies to the CMap's
    # single-byte code 32 — so the SAME closed-form oracle holds; the
    # multi-byte /W + /DW arithmetic is pinned in tests/test_cjk.py
    o["pdf_span_geometry_cid"] = o["pdf_span_geometry"]
    # Type3: glyph-space widths × FontMatrix reproduce the simple
    # font's 500/1000-em advance exactly → same closed-form oracle
    o["pdf_span_geometry_type3"] = o["pdf_span_geometry"]
    # TJ kerning ON: form-1 spans with >1 char carry one -250 kern
    # between the two halves → +((250/1000)·12)·0.5 = +1.5 width;
    # 1-char (and empty-splitter) spans have no kern array
    o["pdf_span_geometry_kerned"] = o["pdf_span_geometry"].replace(
        "WHEN j % 4 = 1 THEN 3.0 * tlen",
        "WHEN j % 4 = 1 THEN 3.0 * tlen"
        " + (CASE WHEN tlen > 1 THEN 1.5 ELSE 0 END)",
    )
    o.update(register_ops_oracles())
    o["stream_window_counts"] = o["events_window_agg"]
    # append mode + watermark eviction emits exactly the CLOSED
    # windows: win_end <= max(ts) - 10 min (the final no-data
    # micro-batch evicts up to the global watermark)
    o["stream_append_counts"] = (
        "WITH agg AS (" + o["events_window_agg"] + ")\n"
        "SELECT * FROM agg\n"
        "WHERE win_start + INTERVAL 5 MINUTE <="
        " (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)\n"
    )
    # the applyInPandasWithState counter's final state == batch counts
    o["stream_user_counts"] = """
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY user_id
"""
    # streaming exact dedup: the landing replays every file twice;
    # watermarked dropDuplicates must emit exactly the distinct set
    o["stream_dedup_events"] = "SELECT DISTINCT * FROM events"
    return o
