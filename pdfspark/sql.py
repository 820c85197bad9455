"""SQL surface: register the engine's tables as temp views so the
whole pipeline is queryable with ``spark.sql`` — the second half of
the "DataFrame + SQL API" contract.

    import pdfspark.sql as psql
    psql.register(spark, "/root/testdata/sf0.01")
    spark.sql("SELECT kind, count(*) FROM pdf_spans GROUP BY kind")

Views:
    documents       raw corpus table
    doc_spans       synthesized interleaved spans (input_hint shape)
    pdf_spans       extraction output rows (doc_id, offset, kind, ...)
    pdf_meta        per-document metadata projection
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .engine import (
    extract_flat,
    extract_metadata,
    generate_payloads,
    load_documents,
    synth_spans_df,
)


def register(spark: SparkSession, sf_dir: str, variant: str = "mixed") -> None:
    docs = load_documents(spark, sf_dir)
    docs.createOrReplaceTempView("documents")
    synth_spans_df(docs).createOrReplaceTempView("doc_spans")
    payloads = generate_payloads(docs, variant)
    extract_flat(payloads).createOrReplaceTempView("pdf_spans")
    extract_metadata(payloads).createOrReplaceTempView("pdf_meta")
