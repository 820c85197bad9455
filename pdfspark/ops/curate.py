"""Corpus curation — the composite training-data pipeline query:
language gate → length gate → lexical-diversity gate → exact-dup
representative gate, each doc labeled with the FIRST failing reason
(or 'kept'). This is the end-to-end flow the individual operators in
textstats/dedup exist for, expressed as ONE plan with a single
shuffle (the duplicate-cluster window on md5(text)); everything else
is codegen projections fused into the scan.

Gates (deterministic, integer-exact so the oracle matches bit-for-bit):
  lang         predicted language (marker-word argmax) must be 'en'
  too_short    n_tokens < MIN_TOKENS
  low_diversity distinct-token ratio ×1000 < MIN_DIVERSITY_X1000
  duplicate    not the min-doc_id representative of its md5 cluster
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from .textstats import LANG_MARKERS

MIN_TOKENS = 10
MIN_DIVERSITY_X1000 = 150
KEEP_LANG = "en"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _docs_parallel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r9 scan-parallelism floor (guide §6) — see
    # engine.ensure_parallelism: the 5-gram explode otherwise runs in
    # 1-2 scan tasks locally (no-op at real scale). Interleaved A/B: the floor
    # pays for benchmark_contamination (0.26× vs round start) but
    # HURTS corpus_curate (1.9× — already bound by its md5 window
    # shuffle), so only the contamination query uses it.
    from ..engine import ensure_parallelism

    return ensure_parallelism(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    )


def corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        "doc_id", "text", F.split("text", " ").alias("w")
    )
    structs = []
    for lang in sorted(LANG_MARKERS):
        inlist = ",".join(f"'{m}'" for m in LANG_MARKERS[lang])
        structs.append(
            F.struct(
                F.expr(f"size(filter(w, x -> x in ({inlist})))").alias("s"),
                F.lit(lang).alias("l"),
            )
        )
    n = F.size("w")
    feat = docs.select(
        "doc_id",
        F.array_max(F.array(*structs)).getField("l").alias("lang_pred"),
        n.cast("bigint").alias("n_tokens"),
        (F.size(F.array_distinct("w")) * 1000 / n)
        .cast("bigint")
        .alias("diversity_x1000"),
        F.md5("text").alias("fp"),
    )
    wnd = Window.partitionBy("fp")
    feat = feat.withColumn("cluster_id", F.min("doc_id").over(wnd))
    reason = (
        F.when(F.col("lang_pred") != KEEP_LANG, "lang")
        .when(F.col("n_tokens") < MIN_TOKENS, "too_short")
        .when(F.col("diversity_x1000") < MIN_DIVERSITY_X1000, "low_diversity")
        .when(F.col("doc_id") != F.col("cluster_id"), "duplicate")
        .otherwise("kept")
    )
    return feat.select(
        "doc_id", "lang_pred", "n_tokens", "diversity_x1000",
        "cluster_id", reason.alias("reason"),
    )


def _curate_oracle_sql() -> str:
    scores = ",\n         ".join(
        "len(list_filter(w, x -> x IN ("
        + ",".join(f"'{m}'" for m in LANG_MARKERS[lang])
        + f"))) AS sc_{lang}"
        for lang in sorted(LANG_MARKERS)
    )
    structs = ", ".join(f"(sc_{lang}, '{lang}')" for lang in sorted(LANG_MARKERS))
    return f"""
WITH base AS (
  SELECT doc_id, text, string_split(text, ' ') AS w FROM documents
),
scored AS (
  SELECT doc_id, text, w, {scores} FROM base
),
feat AS (
  SELECT doc_id,
         list_max([{structs}])[2] AS lang_pred,
         CAST(len(w) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(w)) * 1000 // len(w) AS BIGINT) AS diversity_x1000,
         min(doc_id) OVER (PARTITION BY md5(text)) AS cluster_id
  FROM scored
)
SELECT doc_id, lang_pred, n_tokens, diversity_x1000, cluster_id,
       CASE WHEN lang_pred != '{KEEP_LANG}' THEN 'lang'
            WHEN n_tokens < {MIN_TOKENS} THEN 'too_short'
            WHEN diversity_x1000 < {MIN_DIVERSITY_X1000} THEN 'low_diversity'
            WHEN doc_id != cluster_id THEN 'duplicate'
            ELSE 'kept' END AS reason
FROM feat
"""


# ---------------------------------------------------------------------------
# Benchmark decontamination: n-gram overlap vs a held-out eval set
# ---------------------------------------------------------------------------

NGRAM = 5  # word 5-grams (decontamination-style, distinct from dedup's 3)
BENCH_MOD = 50  # doc_id % 50 == 0 → the deterministic benchmark stand-in
CONTAM_X10 = 1  # contaminated ⇔ hits*10 >= grams (≥10% overlap)

_GRAMS_SPARK = f"""
CASE WHEN size(w) < {NGRAM} THEN array(text)
ELSE transform(
  sequence(0, size(w) - {NGRAM}),
  i -> concat_ws(' ', {", ".join(f"element_at(w, i + {j + 1})" for j in range(NGRAM))}))
END
"""

_GRAMS_DUCK = f"""
CASE WHEN len(w) < {NGRAM} THEN [text]
ELSE [{" || ' ' || ".join(f"w[i+{j}]" for j in range(NGRAM))}
      for i in range(1, len(w) - {NGRAM - 2})]
END
"""


def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination scan: fraction of each TRAINING doc's distinct
    word {NGRAM}-grams that appear in the benchmark set (the held-out
    eval stand-in: doc_id % {BENCH_MOD} == 0). Flag when overlap ≥ 10%
    (integer-exact: hits·10 ≥ grams).

    Plan at corpus scale: benchmark grams are a BROADCAST (eval sets
    are small by construction), so the only shuffle is the per-doc
    groupBy count — training grams never co-shuffle with each other."""
    docs = _docs_parallel(spark, sf_dir).select(
        "doc_id", "text", F.split("text", " ").alias("w")
    )
    grams = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.expr(_GRAMS_SPARK))).alias("g"),
    )
    bench = (
        grams.where(F.col("doc_id") % BENCH_MOD == 0)
        .select("g")
        .distinct()
    )
    train = grams.where(F.col("doc_id") % BENCH_MOD != 0)
    hits = (
        train.join(F.broadcast(bench).withColumn("hit", F.lit(1)), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_hits"),
        )
    )
    return hits.select(
        "doc_id",
        "n_grams",
        "n_hits",
        (F.col("n_hits") * 10 >= F.col("n_grams") * CONTAM_X10).alias(
            "contaminated"
        ),
    )


def _contamination_oracle_sql() -> str:
    return f"""
WITH base AS (
  SELECT doc_id, text, string_split(text, ' ') AS w FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, unnest(list_distinct({_GRAMS_DUCK})) AS g
  FROM base
),
bench AS (
  SELECT DISTINCT g FROM grams WHERE doc_id % {BENCH_MOD} = 0
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hits,
       sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) * 10
         >= count(*) * {CONTAM_X10} AS contaminated
FROM grams t LEFT JOIN bench b ON t.g = b.g
WHERE t.doc_id % {BENCH_MOD} != 0
GROUP BY t.doc_id
"""


def queries():
    return {
        "corpus_curate": corpus_curate,
        "benchmark_contamination": benchmark_contamination,
    }


def oracles():
    return {
        "corpus_curate": _curate_oracle_sql(),
        "benchmark_contamination": _contamination_oracle_sql(),
    }
