"""ann.doc_embed_arrays (round-10 Arrow kernel) vs doc_embed_expr (the
original HOF expression): bit-identical vectors — same md5 bucket/sign
recipe, exact integer folds both ways — including the whitespace-split
edge cases (repeated/leading/trailing separators ⇒ empty tokens, which
hash like any token on both paths)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_lake_spark.queries.ann import doc_embed_arrays, doc_embed_expr

_TEXTS = [
    "spark join window vector",
    "spark spark spark",
    "a  b",          # interior empty token
    " leading",      # leading empty token
    "trailing ",     # trailing empty token
    "",              # one empty token
    "join window join window join",
    "unicode töken ånd ümläuts",
]


def test_arrow_kernel_matches_hof_expression(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_TEXTS)], "doc_id long, text string"
    )
    hof = {
        r["doc_id"]: list(r["v"])
        for r in docs.select(
            "doc_id", doc_embed_expr("text").alias("v")
        ).collect()
    }
    arrow = {
        r["doc_id"]: list(r["emb"]) for r in doc_embed_arrays(docs).collect()
    }
    assert arrow == hof


def test_arrow_kernel_matches_on_repartitioned_input(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_TEXTS * 40)],
        "doc_id long, text string",
    ).repartition(7)
    hof = sorted(
        tuple(r["v"])
        for r in docs.select(doc_embed_expr("text").alias("v")).collect()
    )
    arrow = sorted(
        tuple(r["emb"]) for r in doc_embed_arrays(docs).collect()
    )
    assert arrow == hof
