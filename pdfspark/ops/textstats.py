"""Text-analysis operators: token counting, quality scoring, language
ID heuristic, document fingerprinting — all narrow projections (no
shuffle except the final agg-free scan), JVM-side only.

At 10^12 docs these are the cheapest pipeline stages: pure map
operators that fuse into the parquet scan under whole-stage codegen,
with column pruning keeping the scan at (doc_id, text). They read the
raw scan, not spread rows (scale.spread_docs): a repartition
after the 1-2 split scan was measured in r9 and reverted — each query
is either already shuffle-bound or too cheap for the extra full-width
Exchange to pay (gopher 0.27→0.68 s, bm25 flat; OPTIMIZATION_r09.md).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..engine import load_documents

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on")

# marker-word sets for the n-gram/stopword language-ID heuristic; the
# corpus is synthetic English-ish CS text, so the discriminative power
# is in the tie-break — the point is the operator shape (argmax over
# per-language marker hit counts), which is what a real lang-ID does
LANG_MARKERS = {
    "en": ("the", "a", "is", "and"),
    "de": ("der", "die", "und", "nicht"),
    "fr": ("le", "la", "et", "les"),
    "es": ("el", "los", "que", "y"),
}


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens + BPE-ish subword count (4-char pieces,
    ceil(len/4) per token — a deterministic stand-in for a tokenizer's
    piece count that stays SQL-exact)."""
    docs = load_documents(spark, sf_dir)
    w = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.size(w).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(w)).cast("bigint").alias("n_distinct"),
        F.expr(
            "aggregate(split(text, ' '), 0L, (acc, x) -> acc + CAST(ceil(length(x) / 4.0) AS LONG))"
        ).alias("n_subwords"),
    )


TOKEN_COUNT_SQL = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
       CAST(list_sum([CAST(ceil(length(x) / 4.0) AS BIGINT)
                      for x in string_split(text, ' ')]) AS BIGINT) AS n_subwords
FROM documents
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length, mean token length ×100 (integer-exact),
    stopword hits, distinct-token ratio ×1000 (integer-exact). Ratios
    are emitted as integer-scaled values so the oracle comparison
    never depends on float formatting."""
    docs = load_documents(spark, sf_dir)
    w = F.split("text", " ")
    n = F.size(w)
    stop_hits = F.size(
        F.expr(
            "filter(split(text, ' '), x -> x in ("
            + ",".join(f"'{s}'" for s in STOPWORDS)
            + "))"
        )
    )
    return docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        n.cast("bigint").alias("n_tokens"),
        ((F.length("text") - (n - 1)) * 100 / n).cast("bigint").alias("mean_tok_len_x100"),
        stop_hits.cast("bigint").alias("stop_hits"),
        (F.size(F.array_distinct(w)) * 1000 / n).cast("bigint").alias("distinct_ratio_x1000"),
    )


TEXT_QUALITY_SQL = f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(w) AS BIGINT) AS n_tokens,
       CAST((length(text) - (len(w) - 1)) * 100 // len(w) AS BIGINT) AS mean_tok_len_x100,
       CAST(len(list_filter(w, x -> x IN ({",".join(f"''{s}''" for s in STOPWORDS)})))
            AS BIGINT) AS stop_hits,
       CAST(len(list_distinct(w)) * 1000 // len(w) AS BIGINT) AS distinct_ratio_x1000
FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
""".replace("''", "'")


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmax over per-language marker-word hit counts; deterministic
    lexicographic tie-break."""
    docs = load_documents(spark, sf_dir)
    score_cols = []
    for lang, marks in sorted(LANG_MARKERS.items()):
        inlist = ",".join(f"'{m}'" for m in marks)
        score_cols.append(
            F.expr(f"size(filter(split(text, ' '), x -> x in ({inlist})))").alias(
                f"sc_{lang}"
            )
        )
    scored = docs.select("doc_id", *score_cols)
    structs = [
        F.struct(F.col(f"sc_{lang}").alias("s"), F.lit(lang).alias("l"))
        for lang in sorted(LANG_MARKERS)
    ]
    best = F.array_max(F.array(*structs))
    return scored.select(
        "doc_id",
        best.getField("l").alias("lang_pred"),
        best.getField("s").cast("bigint").alias("score"),
    )


def _lang_id_sql() -> str:
    scores = ",\n       ".join(
        "len(list_filter(w, x -> x IN ("
        + ",".join(f"'{m}'" for m in LANG_MARKERS[lang])
        + f"))) AS sc_{lang}"
        for lang in sorted(LANG_MARKERS)
    )
    # argmax with (score, lang) max — lexicographically larger lang
    # wins ties, matching Spark's struct array_max ordering
    structs = ", ".join(f"(sc_{lang}, '{lang}')" for lang in sorted(LANG_MARKERS))
    return f"""
WITH scored AS (
  SELECT doc_id, {scores}
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
),
best AS (
  SELECT doc_id, list_max([{structs}]) AS b FROM scored
)
SELECT doc_id, b[2] AS lang_pred, CAST(b[1] AS BIGINT) AS score FROM best
"""


def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized content fingerprint: lowercase, collapse whitespace,
    md5 → 16-hex prefix (the rolling-hash analog as one digest)."""
    docs = load_documents(spark, sf_dir)
    norm = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    return docs.select(
        "doc_id", F.substring(F.md5(norm), 1, 16).alias("fp16")
    )


FINGERPRINT_SQL = r"""
SELECT doc_id, substr(md5(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 16) AS fp16
FROM documents
"""


# --- normalization + PII scrub ----------------------------------------------

# conservative patterns (no lookaround) so the SAME regex text runs in
# Spark (Java regex) and DuckDB (RE2): emails, URLs, phone-ish digit runs
PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_URL = r"https?://[^ ]+"
PII_PHONE = r"\+?[0-9][0-9()\- ]{5,}[0-9]"


def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization + PII scrub, the pre-training hygiene pass:
    lowercase, whitespace-collapse, emails/URLs/phone-runs replaced by
    typed placeholders. The corpus text is clean, so deterministic PII
    is appended per doc first — the scrub must remove exactly it
    (oracle reconstructs the expectation). Pure codegen projection:
    zero shuffles, fuses into the scan."""
    docs = load_documents(spark, sf_dir)
    dirty = F.concat(
        F.col("text"),
        F.lit(" Contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com  or https://ex.com/d/"), F.col("doc_id").cast("string"),
        F.lit(" tel +1 (555) 010-02"), F.col("doc_id").cast("string"),
    )
    clean = F.lower(dirty)
    n_pii = (
        F.regexp_count(clean, F.lit(PII_EMAIL))
        + F.regexp_count(clean, F.lit(PII_URL))
        + F.regexp_count(clean, F.lit(PII_PHONE))
    )
    for pat, tok in ((PII_EMAIL, "<EMAIL>"), (PII_URL, "<URL>"), (PII_PHONE, "<PHONE>")):
        clean = F.regexp_replace(clean, pat, tok)
    clean = F.trim(F.regexp_replace(clean, r"\s+", " "))
    return docs.select(
        "doc_id",
        clean.alias("clean_text"),
        n_pii.cast("int").alias("n_pii"),
    )


TEXT_NORMALIZE_SQL = f"""
SELECT doc_id,
       trim(regexp_replace(
         regexp_replace(
           regexp_replace(
             regexp_replace(dirty, '{PII_EMAIL}', '<EMAIL>', 'g'),
             '{PII_URL}', '<URL>', 'g'),
           '{PII_PHONE}', '<PHONE>', 'g'),
         '\\s+', ' ', 'g')) AS clean_text,
       CAST(len(regexp_extract_all(dirty, '{PII_EMAIL}'))
          + len(regexp_extract_all(dirty, '{PII_URL}'))
          + len(regexp_extract_all(dirty, '{PII_PHONE}')) AS INT) AS n_pii
FROM (
  SELECT doc_id,
         lower(text || ' Contact user' || CAST(doc_id AS VARCHAR)
               || '@example.com  or https://ex.com/d/' || CAST(doc_id AS VARCHAR)
               || ' tel +1 (555) 010-02' || CAST(doc_id AS VARCHAR)) AS dirty
  FROM documents
)
"""


# --- repetition signals (FineWeb/Gopher "rep" quality family) --------------


def rep_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals (r5) — the FineWeb/Gopher
    duplicate-content family: fraction of 80-char chunks that are
    within-doc duplicates, and the share of the most frequent word
    BIGRAM in all bigrams (integer-scaled ×1000, floor).  All
    JVM-side: one regexp chunking pass + explode, one bigram
    transform + explode; shuffles key on doc_id / (doc_id, value) —
    high-cardinality, even at 10^12 docs."""
    docs = load_documents(spark, sf_dir)
    chunks = docs.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(text, '(?s).{1,80}', 0)")
        ).alias("chunk"),
    )
    cstat = chunks.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.countDistinct("chunk").alias("nd_chunks"),
    )
    # project the split ONCE — Catalyst does not CSE the repeated
    # split(text,' ') calls a single inline expression would carry
    # (three re-tokenizations per row otherwise)
    bigrams = docs.select(
        "doc_id", F.split("text", " ").alias("ws")
    ).select(
        "doc_id",
        F.explode(
            F.when(
                F.size("ws") >= 2,
                F.expr(
                    "transform(sequence(0, size(ws) - 2),"
                    " i -> concat(ws[i], ' ', ws[i + 1]))"
                ),
            ).otherwise(F.array())
        ).alias("bg"),
    )
    bstat = (
        bigrams.groupBy("doc_id", "bg")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("max_bg"), F.sum("count").alias("tot_bg"))
    )
    return (
        cstat.join(bstat, "doc_id", "left")
        .select(
            "doc_id",
            F.expr(
                "CAST((n_chunks - nd_chunks) * 1000 DIV n_chunks AS BIGINT)"
            ).alias("dup_chunk_x1000"),
            F.coalesce(
                F.expr("CAST(max_bg * 1000 DIV tot_bg AS BIGINT)"),
                F.lit(0).cast("bigint"),
            ).alias("top_bigram_x1000"),
        )
    )


REP_SIGNALS_SQL = """
WITH c AS (
  SELECT doc_id,
         substr(text, CAST(i * 80 + 1 AS INT), 80) AS chunk
  FROM (SELECT doc_id, text,
               unnest(range(CAST(ceil(length(text)/80.0) AS BIGINT))) AS i
        FROM documents)
),
cstat AS (
  SELECT doc_id, count(*) AS n_chunks,
         count(DISTINCT chunk) AS nd_chunks
  FROM c GROUP BY doc_id
),
wext AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
bg AS (
  SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS b
  FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM wext)
),
bgc AS (SELECT doc_id, b, count(*) AS cnt FROM bg GROUP BY doc_id, b),
bstat AS (
  SELECT doc_id, max(cnt) AS max_bg, sum(cnt) AS tot_bg
  FROM bgc GROUP BY doc_id
)
SELECT cstat.doc_id,
       CAST((n_chunks - nd_chunks) * 1000 // n_chunks AS BIGINT)
         AS dup_chunk_x1000,
       CAST(coalesce(max_bg * 1000 // tot_bg, 0) AS BIGINT)
         AS top_bigram_x1000
FROM cstat LEFT JOIN bstat ON bstat.doc_id = cstat.doc_id
"""


# --- unigram-rarity quality score (perplexity proxy) -----------------------

RARITY_CAP = 1_000_000  # saturate total//cnt so the ×1000 sum stays < 2^63
# even at 10^13 corpus tokens (rare-word saturation, documented)


def unigram_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality proxy (r5): mean per-token RARITY, where
    rarity(w) = min(total_tokens // corpus_count(w), RARITY_CAP) — the
    all-integer stand-in for unigram −log p(w) (a float log would not
    hash bit-identically across engines).  Common-word-heavy docs
    score low, unusual-vocabulary docs high.  Plan: one token explode,
    corpus-frequency groupBy on the word (map-side combinable), the
    1-row total broadcast-crossed, a frequency join back on the word
    (high-cardinality, even), and a per-doc agg — at 10^12 docs the
    frequency table is the classic shared side a real pipeline would
    bucket or broadcast-threshold."""
    docs = load_documents(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    freq = toks.groupBy("w").agg(F.count("*").alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("total"))
    scored = (
        toks.join(freq, "w")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.expr(
                f"least(total DIV cnt, {RARITY_CAP}L)"
            ).alias("rarity"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.expr("CAST(sum(rarity) * 1000 DIV count(*) AS BIGINT)").alias(
            "mean_rarity_x1000"
        ),
    )


UNIGRAM_RARITY_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
freq AS (SELECT w, count(*) AS cnt FROM toks GROUP BY w),
tot AS (SELECT sum(cnt) AS total FROM freq)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(least(total // cnt, {RARITY_CAP})) * 1000 // count(*)
            AS BIGINT) AS mean_rarity_x1000
FROM toks JOIN freq USING (w), tot
GROUP BY doc_id
"""


# --- training-sequence packing ---------------------------------------------

PACK_BUDGET = 2048  # tokens per packed training sequence
PACK_SHARDS = 64  # shard-parallel packing unit


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-sequence packing accounting (r5): the
    concat-then-chunk recipe LM pipelines use — docs are concatenated
    in order and split into PACK_BUDGET-token sequences; a doc belongs
    to the bin its first token lands in.  Packing is sequential by
    nature, so it SHARDS (doc_id % PACK_SHARDS): each shard packs
    independently via a window cumulative sum — shards are the
    parallel unit at 10^12 docs (the one window sort is per-shard,
    never global).  Emits per-(shard, bin) docs/tokens/fill."""
    from pyspark.sql.window import Window

    docs = load_documents(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
    )
    win = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = (
        toks.withColumn("cum", F.sum("n_tok").over(win))
        .withColumn(
            "bin",
            F.expr(f"CAST(coalesce(cum, 0) DIV {PACK_BUDGET} AS BIGINT)"),
        )
    )
    return (
        binned.groupBy("shard", "bin")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
        .select(
            F.col("shard").cast("bigint"),
            "bin",
            "n_docs",
            "n_tokens",
            F.expr(f"CAST(n_tokens * 1000 DIV {PACK_BUDGET} AS BIGINT)")
            .alias("fill_x1000"),
        )
    )


PACK_SEQUENCES_SQL = f"""
WITH t AS (
  SELECT doc_id, doc_id % {PACK_SHARDS} AS shard,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
b AS (
  SELECT shard, n_tok,
         coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           // {PACK_BUDGET} AS bin
  FROM t
)
SELECT CAST(shard AS BIGINT) AS shard, CAST(bin AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(sum(n_tok) * 1000 // {PACK_BUDGET} AS BIGINT) AS fill_x1000
FROM b GROUP BY shard, bin
"""


# --- BM25 relevance ranking -------------------------------------------------

BM25_TERMS = ("spark", "join", "stream", "vector")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP = 20


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 over the corpus for a fixed term set → top-20 docs.

    Plan shape at 10^12 docs: one explode + one (doc_id, w) groupBy
    for term frequencies (map-side combinable), document-frequency and
    corpus stats are TINY aggregates broadcast back (≤|terms| rows and
    1 row), so the only real shuffle is the tf groupBy; final top-k is
    a global sort of |matching docs| scored rows. All JVM-side."""
    docs = load_documents(spark, sf_dir).select(
        "doc_id", F.split("text", " ").alias("ws")
    ).select("doc_id", "ws", F.size("ws").alias("dl"))
    # r9 (guide §2.4): term frequencies as per-document array counts —
    # size(ws) - size(array_remove(ws, term)) per fixed term (plain
    # builtins; a filter() lambda here is INTERPRETED per element and
    # measured 1.5× SLOWER than the explode it replaced), unpivoted
    # via stack — instead of exploding every word and shuffling a
    # (doc_id, w) groupBy. Same (doc_id, w, tf, dl) rows (tf > 0
    # mirrors the explode+filter inner semantics); the tf Exchange is
    # gone entirely.
    stack_args = ", ".join(
        f"'{t}', size(ws) - size(array_remove(ws, '{t}'))" for t in BM25_TERMS
    )
    tf = (
        docs.selectExpr(
            "doc_id", "dl",
            f"stack({len(BM25_TERMS)}, {stack_args}) AS (w, tf)",
        )
        .where(F.col("tf") > 0)
        .select("doc_id", "w", F.col("tf").cast("bigint").alias("tf"), "dl")
        # tf is consumed by BOTH dfreq and the scoring join; as a pure
        # projection it would be recomputed per consumer (the old
        # explode's Exchange was implicitly reused). Materialize the
        # tiny ≤|terms|·|docs| frame once (lazy, per invocation).
        .localCheckpoint(eager=False)
    )
    dfreq = tf.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    stats = docs.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "w")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0),
        )
        .withColumn(
            "part",
            F.col("idf")
            * (F.col("tf") * (BM25_K1 + 1))
            / (
                F.col("tf")
                + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("part").alias("score"))
    )
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(BM25_TOP)
        .select("doc_id", F.round("score", 5).alias("score_r5"))
    )


def _bm25_oracle_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    return f"""
WITH d AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl,
         string_split(text, ' ') AS ws
  FROM documents
),
words AS (
  SELECT doc_id, dl, unnest(ws) AS w FROM d
),
tf AS (
  SELECT doc_id, w, count(*) AS tf, min(dl) AS dl
  FROM words WHERE w IN ({terms}) GROUP BY doc_id, w
),
dfreq AS (SELECT w, count(DISTINCT doc_id) AS df FROM tf GROUP BY w),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d),
scored AS (
  SELECT t.doc_id,
         sum(ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)
             * (t.tf * ({BM25_K1} + 1))
             / (t.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * t.dl / s.avgdl))
         ) AS score
  FROM tf t JOIN dfreq f ON f.w = t.w CROSS JOIN stats s
  GROUP BY t.doc_id
)
SELECT doc_id, round(score, 5) AS score_r5
FROM scored ORDER BY score DESC, doc_id ASC LIMIT {BM25_TOP}
"""


# ---------------------------------------------------------------------------
# Stratified deterministic sampling (training-data curation primitive)
# ---------------------------------------------------------------------------

SAMPLE_DEN = 5  # keep ceil(1/5) of every stratum


def corpus_sample(
    spark: SparkSession, sf_dir: str, den: int = SAMPLE_DEN
) -> DataFrame:
    """Per-language stratified sample, fully DETERMINISTIC: within each
    lang stratum keep the ceil(n/den) docs with the smallest
    md5(doc_id) — reproducible across runs/engines (no RNG), exact
    per-stratum proportions (a plain hash-threshold only hits the rate
    in expectation). Plan: ONE shuffle on lang; both window functions
    (count + row_number) share the partitioning. At corpus scale the
    stratum key generalizes to any low-cardinality column."""
    docs = load_documents(spark, sf_dir).select(
        "doc_id", "lang", F.md5(F.col("doc_id").cast("string")).alias("h")
    )
    w = Window.partitionBy("lang")
    wo = w.orderBy("h", "doc_id")
    return (
        docs.withColumn("n", F.count("*").over(w))
        .withColumn("rn", F.row_number().over(wo))
        .where(F.col("rn") <= F.ceil(F.col("n") / den))
        .select("doc_id", "lang")
    )


def _sample_sql(den: int = SAMPLE_DEN) -> str:
    return f"""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents
) WHERE rn <= ceil(n / {den}.0)
"""


# ---------------------------------------------------------------------------
# Training-window chunking (fixed token windows with overlap)
# ---------------------------------------------------------------------------

WIN_TOKENS = 64
WIN_STRIDE = 48  # 16-token overlap between consecutive windows


def text_windows(
    spark: SparkSession,
    sf_dir: str,
    window: int = WIN_TOKENS,
    stride: int = WIN_STRIDE,
) -> DataFrame:
    """Split every document into fixed-size TOKEN windows with overlap
    — the standard LLM-pretraining chunking shape. Whitespace tokens;
    windows = 1 + max(0, ceil((n-window)/stride)) so the tail is always
    covered; all integer math (bit-identical across engines). ZERO
    shuffles: project → explode → project, embarrassingly parallel at
    any corpus size."""
    docs = load_documents(spark, sf_dir).select(
        "doc_id", F.split("text", " ").alias("w")
    )
    nwin = (
        f"1 + greatest(0, (size(w) - {window} + {stride} - 1) div {stride})"
    )
    return (
        docs.select(
            "doc_id",
            "w",
            F.explode(F.expr(f"sequence(0, {nwin} - 1)")).alias("win_id"),
        )
        .select(
            "doc_id",
            F.col("win_id").cast("int").alias("win_id"),
            F.least(
                F.lit(window), F.size("w") - F.col("win_id") * stride
            ).cast("int").alias("n_tokens"),
            F.expr(
                f"concat_ws(' ', slice(w, win_id * {stride} + 1, {window}))"
            ).alias("window_text"),
        )
    )


def _windows_sql(window: int = WIN_TOKENS, stride: int = WIN_STRIDE) -> str:
    return f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         len(string_split(text, ' ')) AS n
  FROM documents
),
e AS (
  SELECT doc_id, w, n,
         unnest(range(1 + greatest(0, (n - {window} + {stride} - 1) // {stride})))
           AS win_id
  FROM t
)
SELECT doc_id, CAST(win_id AS INT) AS win_id,
       CAST(least({window}, n - win_id * {stride}) AS INT) AS n_tokens,
       array_to_string(w[win_id * {stride} + 1 : win_id * {stride} + {window}], ' ')
         AS window_text
FROM e
"""


GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_BULLETS = ("-", "*", "•")


def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality rule set (Rae et al. 2021 §A.1.1, adapted
    to the corpus and kept INTEGER-exact so the oracle never touches a
    float): word-count bounds, mean-word-length bounds (3..10),
    symbol-to-word ratio (# chars + '...' occurrences ≤ 10% of words),
    bullet-token ratio (≤ 20%), ≥2 distinct stopwords present, and
    ≥80% of words containing an alphabetic char. `keep` is the AND of
    all passes — the composite filter a curation pipeline applies
    before dedup. Every rule is a codegen projection; zero shuffles."""
    docs = load_documents(spark, sf_dir)
    w = F.split("text", " ")
    n = F.size(w)
    # sum of token lengths = len(text) - (n-1) separators
    tok_chars = F.length("text") - (n - F.lit(1))
    hash_chars = F.length("text") - F.length(F.regexp_replace("text", "#", ""))
    # exact: the removed length is always a multiple of 3
    ellipsis = (
        (F.length("text") - F.length(F.regexp_replace("text", r"\.\.\.", "")))
        / F.lit(3)
    ).cast("long")
    bullets = F.size(
        F.expr(
            "filter(split(text, ' '), x -> x in ("
            + ",".join(f"'{b}'" for b in GOPHER_BULLETS)
            + "))"
        )
    )
    stop_distinct = F.size(
        F.array_distinct(
            F.expr(
                "filter(split(text, ' '), x -> x in ("
                + ",".join(f"'{s}'" for s in STOPWORDS)
                + "))"
            )
        )
    )
    alpha_words = F.size(
        F.expr("filter(split(text, ' '), x -> x rlike '[a-zA-Z]')")
    )
    f_wc = (n < GOPHER_MIN_WORDS) | (n > GOPHER_MAX_WORDS)
    f_mwl = (tok_chars < 3 * n) | (tok_chars > 10 * n)
    f_sym = (hash_chars + ellipsis) * 10 > n
    f_bul = bullets * 5 > n
    f_stop = stop_distinct < 2
    f_alpha = alpha_words * 5 < n * 4
    keep = ~(f_wc | f_mwl | f_sym | f_bul | f_stop | f_alpha)
    return docs.select(
        "doc_id",
        n.cast("bigint").alias("n_words"),
        f_wc.alias("flag_word_count"),
        f_mwl.alias("flag_mean_word_len"),
        f_sym.alias("flag_symbol_ratio"),
        f_bul.alias("flag_bullet_ratio"),
        f_stop.alias("flag_stopwords"),
        f_alpha.alias("flag_alpha"),
        keep.alias("keep"),
    )


def _gopher_sql() -> str:
    bullets = ",".join(f"''{b}''" for b in GOPHER_BULLETS).replace("''", "'")
    stops = ",".join(f"''{s}''" for s in STOPWORDS).replace("''", "'")
    return f"""
WITH base AS (
  SELECT doc_id, text, string_split(text, ' ') AS w,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
         CAST(length(text) - (len(string_split(text, ' ')) - 1) AS BIGINT)
           AS tok_chars,
         CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
           AS hash_chars,
         CAST((length(text) - length(replace(text, '...', ''))) // 3
              AS BIGINT) AS ellipsis,
         CAST(len(list_filter(string_split(text, ' '),
                              x -> x IN ({bullets}))) AS BIGINT) AS bullets,
         CAST(len(list_distinct(list_filter(string_split(text, ' '),
                              x -> x IN ({stops})))) AS BIGINT) AS stop_d,
         CAST(len(list_filter(string_split(text, ' '),
                              x -> regexp_matches(x, '[a-zA-Z]')))
              AS BIGINT) AS alpha_w
  FROM documents
)
SELECT doc_id, n AS n_words,
       (n < {GOPHER_MIN_WORDS} OR n > {GOPHER_MAX_WORDS}) AS flag_word_count,
       (tok_chars < 3 * n OR tok_chars > 10 * n) AS flag_mean_word_len,
       ((hash_chars + ellipsis) * 10 > n) AS flag_symbol_ratio,
       (bullets * 5 > n) AS flag_bullet_ratio,
       (stop_d < 2) AS flag_stopwords,
       (alpha_w * 5 < n * 4) AS flag_alpha,
       NOT ((n < {GOPHER_MIN_WORDS} OR n > {GOPHER_MAX_WORDS})
            OR (tok_chars < 3 * n OR tok_chars > 10 * n)
            OR ((hash_chars + ellipsis) * 10 > n)
            OR (bullets * 5 > n)
            OR (stop_d < 2)
            OR (alpha_w * 5 < n * 4)) AS keep
FROM base
"""


SPLIT_DEN = 20  # 18/1/1 → 90/5/5 train/val/test


def corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (driver query
    `corpus_split`, r6): the split key is the CONTENT fingerprint
    (md5 of the text), NOT the doc id, so byte-identical duplicates
    always land in the same split — no train/eval leakage through
    exact dups surviving upstream dedup.  90/5/5 via integer mod on
    the first 8 fingerprint hex digits: reproducible across engines
    and runs, no RNG anywhere.  Pure projection — zero shuffles; at
    100 TB this is a free column on the curation pass."""
    docs = load_documents(spark, sf_dir)
    b = (
        F.conv(F.substring(F.md5("text"), 1, 8), 16, 10)
        .cast("bigint") % SPLIT_DEN
    )
    split = (
        F.when(b <= SPLIT_DEN - 3, "train")
        .when(b == SPLIT_DEN - 2, "val")
        .otherwise("test")
    )
    return docs.select(
        "doc_id", "lang", b.cast("int").alias("bucket"),
        split.alias("split"),
    )


def _corpus_split_sql() -> str:
    h = " + ".join(
        f"(instr('0123456789abcdef', substr(md5(text), {1 + k}, 1)) - 1)"
        f" * {16 ** (7 - k)}"
        for k in range(8)
    )
    return f"""
SELECT doc_id, lang, CAST(({h}) % {SPLIT_DEN} AS INT) AS bucket,
       CASE WHEN ({h}) % {SPLIT_DEN} <= {SPLIT_DEN - 3} THEN 'train'
            WHEN ({h}) % {SPLIT_DEN} = {SPLIT_DEN - 2} THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


MIX_WMOD = 4  # source weight = 1 + (source index % MIX_WMOD)


def corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pretraining-mix construction: each source gets a
    target weight, and the op emits the LARGEST corpus that honors the
    weight ratios exactly given what each source actually has — the
    bottleneck source caps the total (T = min over sources of
    floor(n_s·WSUM/w_s)), every source then contributes
    floor(w_s·T/WSUM) docs, chosen as the w_s smallest-md5(doc_id)
    rows (reproducible, no RNG; all arithmetic integer so the SQL twin
    is hash-exact). Weights here derive from the source name
    (1 + index % MIX_WMOD) standing in for a config table.

    Plan: per-source counts are a map-side-combinable groupBy; WSUM/T/
    per-source takes are ≤|sources|-row aggregates joined back as a
    broadcast; the only real shuffle is the per-source row_number —
    same stratum-rank posture (and the same low-cardinality-stratum
    caveat) as corpus_sample above."""
    docs = load_documents(spark, sf_dir).select(
        "doc_id",
        "source",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
        # anchored digit extract + coalesce-to-0 is TOTAL and identical
        # in both engines (Spark cast('')→NULL, DuckDB try_cast→NULL);
        # a naive substr+cast diverged: >18-digit suffixes truncated in
        # Spark only, and non-numeric suffixes NULLed in Spark but
        # errored the whole DuckDB oracle
        (
            1
            + F.coalesce(
                F.regexp_extract("source", r"^src([0-9]{1,18})$", 1).cast(
                    "bigint"
                ),
                F.lit(0),
            )
            % MIX_WMOD
        ).alias("wt"),
    )
    # persisted: counts feeds wsum, tcap AND takes — without the cache
    # every consumer re-scans the full table for one pruned column
    # (4 scans of 10^12 rows for a ≤|sources|-row aggregate)
    counts = (
        docs.groupBy("source", "wt").agg(F.count("*").alias("n")).persist()
    )
    wsum = counts.agg(F.sum("wt").alias("wsum"))
    c2 = counts.crossJoin(F.broadcast(wsum))
    tcap = c2.agg(F.min(F.expr("(n * wsum) DIV wt")).alias("tcap"))
    takes = c2.crossJoin(F.broadcast(tcap)).select(
        "source", F.expr("(wt * tcap) DIV wsum").alias("take")
    )
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    ranked = docs.withColumn("rn", F.row_number().over(w))
    return (
        ranked.join(F.broadcast(takes), "source")
        .where(F.col("rn") <= F.col("take"))
        .select("doc_id", "source", F.col("wt").cast("int").alias("weight"))
    )


def _corpus_mix_sql() -> str:
    return f"""
WITH d AS (
  SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS h,
         1 + coalesce(TRY_CAST(
               regexp_extract(source, '^src([0-9]{{1,18}})$', 1)
             AS BIGINT), 0) % {MIX_WMOD} AS wt
  FROM documents
),
c AS (SELECT source, wt, count(*) AS n FROM d GROUP BY source, wt),
s AS (SELECT CAST(sum(wt) AS BIGINT) AS wsum FROM c),
t AS (SELECT min((n * wsum) // wt) AS tcap FROM c, s),
tk AS (SELECT source, (wt * tcap) // wsum AS take FROM c, s, t),
r AS (SELECT doc_id, source, wt,
             row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
               AS rn
      FROM d)
SELECT r.doc_id, r.source, CAST(r.wt AS INT) AS weight
FROM r JOIN tk USING (source) WHERE r.rn <= tk.take
"""


# --- r7: BPE merge learning (Sennrich et al. 2016 §3.2, the
# distributed inner loop of byte-pair-encoding tokenizer training),
# TWO rounds end-to-end: round 1 counts every adjacent token pair
# corpus-wide (the argmax IS the first merge), the winning pair is
# then applied corpus-wide (greedy left-to-right, exactly what a BPE
# trainer does) and round 2 recounts over the merged symbol stream.
# At 10^12 documents this per-round single shuffle is the step that
# matters (a production trainer runs ~32k of them over a shrinking
# stream); the merge application is a sentinel-delimited literal
# replace — token boundaries become \x1f\x1f, so a pair match can
# never start or end mid-token, and consecutive occurrences merge
# exactly as the greedy trainer would ("a a a" -> ["a\x1ea", "a"]).
BPE_TOP = 20
_SEN = "\x1f"  # token boundary sentinel (never in corpus tokens)
_MRG = "\x1e"  # joiner inside a merged symbol


def _pairs_of(docs: DataFrame, col: str) -> DataFrame:
    """Adjacent-pair rows of a token-array column — a codegen'd
    transform/sequence projection, no UDF."""
    return (
        docs.where(F.size(col) >= 2)
        .select(
            F.explode(
                F.expr(
                    f"transform(sequence(0, size({col}) - 2),"
                    f" i -> concat({col}[i], ' ', {col}[i + 1]))"
                )
            ).alias("pair")
        )
    )


def bpe_pair_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(round, pair, cnt): top-BPE_TOP pairs for round 1 (raw token
    stream) and round 2 (after the round-1 argmax merge is applied
    corpus-wide).

    Plan: each round is ONE partial-agg shuffle on the pair string
    (map-side combine absorbs stopword-bigram skew) + a top-k that
    resolves to TakeOrderedAndProject; the winning merge travels as a
    broadcast 1-row crossJoin — the driver never sees the pair table.
    The corpus scan runs once per round, exactly like the production
    trainer's per-round pass over the (re-encoded) symbol stream."""
    docs = load_documents(spark, sf_dir).select("text", F.split("text", " ").alias("w"))
    r1 = (
        _pairs_of(docs, "w")
        .groupBy("pair")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    top1 = r1.orderBy(F.desc("cnt"), F.asc("pair")).limit(1).select("pair")
    # sentinel-wrap, apply the merge literally, re-split
    merged = (
        docs.crossJoin(F.broadcast(top1))
        .select(
            F.expr(
                f"split(trim(BOTH '{_SEN}' FROM replace("
                f"  concat('{_SEN}', replace(text, ' ', '{_SEN}{_SEN}'), '{_SEN}'),"
                f"  concat('{_SEN}', split_part(pair, ' ', 1), '{_SEN}{_SEN}',"
                f"         split_part(pair, ' ', 2), '{_SEN}'),"
                f"  concat('{_SEN}', split_part(pair, ' ', 1), '{_MRG}',"
                f"         split_part(pair, ' ', 2), '{_SEN}')"
                f")), '{_SEN}{_SEN}')"
            ).alias("w2")
        )
    )
    r2 = (
        _pairs_of(merged, "w2")
        .groupBy("pair")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    return (
        r1.orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(BPE_TOP)
        .select(F.lit(1).alias("round"), "pair", "cnt")
        .unionAll(
            r2.orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(BPE_TOP)
            .select(F.lit(2).alias("round"), "pair", "cnt")
        )
    )


BPE_ROUNDS = 8  # full merge-learning loop length (r8; was 2 rounds)


def _merge_applied(text, pair_a: str, pair_b: str):
    """Apply ONE learned merge corpus-wide: every adjacency
    `pair_a pair_b` in the space-joined symbol stream becomes the
    single symbol `pair_a<MRG>pair_b`. Sentinel-wrap → literal
    replace → unwrap, all Column API (no SQL-literal escaping
    hazards), exactly mirrored in the DuckDB oracle."""
    sen, sen2 = F.lit(_SEN), F.lit(_SEN + _SEN)
    wrapped = F.concat(sen, F.replace(text, F.lit(" "), sen2), sen)
    merged = F.replace(
        wrapped,
        F.lit(_SEN + pair_a + _SEN + _SEN + pair_b + _SEN),
        F.lit(_SEN + pair_a + _MRG + pair_b + _SEN),
    )
    return F.replace(F.btrim(merged, sen), sen2, F.lit(" "))


def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(round, pair, cnt): the ARGMAX merge learned in each of
    BPE_ROUNDS rounds of the real BPE training loop — count adjacent
    pairs over the current symbol stream, take the winner (ties →
    lexicographically smallest), re-encode the whole corpus with it,
    repeat. Symbols merged in earlier rounds participate in later
    pairs (the <MRG> joiner keeps them atomic), so round k's winner
    can itself be a 3+-token phrase.

    Scale posture: each round is ONE distributed partial-agg shuffle
    over the pair stream followed by a TakeOrderedAndProject(1); only
    the single winning (pair, cnt) row comes to the driver — the
    bounded-driver-data posture of the k-means trainer (≤ BPE_ROUNDS
    rows total), never the pair table. The winner re-enters the plan
    as a LITERAL in the next round's re-encode, so round k's lineage
    is scan → k-1 chained codegen replaces → shuffle: R linear scans
    total, no nested-aggregate recompute blowup. At 100 TB you'd
    persist the re-encoded corpus between rounds; at bench SF the
    chained-replace recompute is cheaper than the materialization."""
    docs = load_documents(spark, sf_dir).select("text")
    rows = []
    cur = docs
    for rnd in range(1, BPE_ROUNDS + 1):
        counts = (
            _pairs_of(cur.select(F.split("text", " ").alias("w")), "w")
            .groupBy("pair")
            .agg(F.count("*").cast("bigint").alias("cnt"))
        )
        win = counts.orderBy(F.desc("cnt"), F.asc("pair")).limit(1).collect()
        if not win:
            break
        pair, cnt = win[0].pair, win[0].cnt
        rows.append((rnd, pair, cnt))
        if rnd < BPE_ROUNDS:
            a, b = pair.split(" ", 1)
            cur = cur.select(_merge_applied(F.col("text"), a, b).alias("text"))
    return spark.createDataFrame(
        rows, schema="round int, pair string, cnt bigint"
    )


def _bpe_merges_sql() -> str:
    """DuckDB mirror: the same loop unrolled into chained CTEs — the
    per-round top-1 joins back as a 1-row cross join for the next
    re-encode (identical string ops in identical order, so overlap
    and tie semantics match by construction)."""
    sen, mrg = "chr(31)", "chr(30)"
    pairs = "[w[i] || ' ' || w[i + 1] for i in range(1, len(w))]"
    ctes = ["d1 AS (SELECT text FROM documents)"]
    sels = []
    for k in range(1, BPE_ROUNDS + 1):
        ctes.append(
            f"t{k} AS (\n"
            f"  SELECT pair, CAST(count(*) AS BIGINT) AS cnt\n"
            f"  FROM (SELECT unnest({pairs}) AS pair\n"
            f"        FROM (SELECT string_split(text, ' ') AS w FROM d{k})\n"
            f"        WHERE len(w) >= 2)\n"
            f"  GROUP BY pair ORDER BY cnt DESC, pair ASC LIMIT 1\n)"
        )
        if k < BPE_ROUNDS:
            ctes.append(
                f"d{k + 1} AS (\n"
                f"  SELECT replace(trim(replace(\n"
                f"           {sen} || replace(d.text, ' ', {sen} || {sen}) || {sen},\n"
                f"           {sen} || split_part(t.pair, ' ', 1) || {sen} || {sen}\n"
                f"                 || split_part(t.pair, ' ', 2) || {sen},\n"
                f"           {sen} || split_part(t.pair, ' ', 1) || {mrg}\n"
                f"                 || split_part(t.pair, ' ', 2) || {sen}\n"
                f"         ), {sen}), {sen} || {sen}, ' ') AS text\n"
                f"  FROM d{k} d, t{k} t\n)"
            )
        sels.append(f"SELECT CAST({k} AS INT) AS round, pair, cnt FROM t{k}")
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(sels)


def _bpe_sql() -> str:
    sen, mrg = "chr(31)", "chr(30)"
    pairs1 = "[w[i] || ' ' || w[i + 1] for i in range(1, len(w))]"
    return f"""
WITH d AS (SELECT text, string_split(text, ' ') AS w FROM documents),
p1 AS (
  SELECT unnest({pairs1}) AS pair FROM d WHERE len(w) >= 2
),
r1 AS (SELECT pair, CAST(count(*) AS BIGINT) AS cnt FROM p1 GROUP BY pair),
top1 AS (SELECT pair FROM r1 ORDER BY cnt DESC, pair ASC LIMIT 1),
m AS (
  SELECT string_split(trim(replace(
           {sen} || replace(d.text, ' ', {sen} || {sen}) || {sen},
           {sen} || split_part(t.pair, ' ', 1) || {sen} || {sen}
                 || split_part(t.pair, ' ', 2) || {sen},
           {sen} || split_part(t.pair, ' ', 1) || {mrg}
                 || split_part(t.pair, ' ', 2) || {sen}
         ), {sen}), {sen} || {sen}) AS w
  FROM d, top1 t
),
p2 AS (
  SELECT unnest({pairs1}) AS pair FROM m WHERE len(w) >= 2
),
r2 AS (SELECT pair, CAST(count(*) AS BIGINT) AS cnt FROM p2 GROUP BY pair)
SELECT CAST(1 AS INT) AS round, pair, cnt FROM
  (SELECT pair, cnt FROM r1 ORDER BY cnt DESC, pair ASC LIMIT {BPE_TOP})
UNION ALL
SELECT CAST(2 AS INT) AS round, pair, cnt FROM
  (SELECT pair, cnt FROM r2 ORDER BY cnt DESC, pair ASC LIMIT {BPE_TOP})
"""



def queries():
    return {
        "token_count": token_count,
        "text_quality": text_quality,
        "lang_id": lang_id,
        "text_fingerprint": fingerprint,
        "text_normalize": text_normalize,
        "bm25_topk": bm25_topk,
        "corpus_sample": corpus_sample,
        "text_windows": text_windows,
        "gopher_quality_flags": gopher_quality_flags,
        "rep_signals": rep_signals,
        "pack_sequences": pack_sequences,
        "unigram_rarity": unigram_rarity,
        "corpus_split": corpus_split,
        "corpus_mix": corpus_mix,
        "bpe_pair_topk": bpe_pair_topk,
        "bpe_merges": bpe_merges,
    }


def oracles():
    return {
        "token_count": TOKEN_COUNT_SQL,
        "text_quality": TEXT_QUALITY_SQL,
        "lang_id": _lang_id_sql(),
        "text_fingerprint": FINGERPRINT_SQL,
        "text_normalize": TEXT_NORMALIZE_SQL,
        "bm25_topk": _bm25_oracle_sql(),
        "corpus_sample": _sample_sql(),
        "text_windows": _windows_sql(),
        "gopher_quality_flags": _gopher_sql(),
        "rep_signals": REP_SIGNALS_SQL,
        "pack_sequences": PACK_SEQUENCES_SQL,
        "unigram_rarity": UNIGRAM_RARITY_SQL,
        "corpus_split": _corpus_split_sql(),
        "corpus_mix": _corpus_mix_sql(),
        "bpe_pair_topk": _bpe_sql(),
        "bpe_merges": _bpe_merges_sql(),
    }
