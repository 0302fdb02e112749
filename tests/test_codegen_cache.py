"""Steady state compiles nothing: once a round of operators has run in a
session, running the same round again finds every generated class in
Spark's codegen cache (``session.CODEGEN_CACHE_MAX_ENTRIES``), so Janino
compiles no class, and the round's outputs are unchanged."""

from __future__ import annotations

from pyspark.sql import functions as F

from crocodile_spark.config import PipelineConfig
from crocodile_spark.datagen import corpus_to_spark, make_corpus
from crocodile_spark.operators.dedup import minhash_lsh_pairs
from crocodile_spark.operators.similarity_search import lsh_topk
from crocodile_spark.pipeline import run_pipeline


def _compilations(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _round(spark, wp) -> tuple:
    """The pipeline, MinHash dedup and LSH top-k once; their sorted rows."""
    out = run_pipeline(spark, wp, PipelineConfig(shuffle_partitions=4), use_html=False)
    corpus = wp.select(F.col("url").alias("cand_id"), "embedding")
    queries = corpus.select(F.col("cand_id").alias("query_id"), "embedding")
    return tuple(
        sorted(tuple(r) for r in df.collect())
        for df in (
            out.clusters,
            minhash_lsh_pairs(wp, "text", "url", jaccard_threshold=0.5),
            lsh_topk(queries, corpus, k=5),
        )
    )


def test_second_round_compiles_nothing(spark):
    wp, _, _ = corpus_to_spark(
        spark, make_corpus(n_entities=20, pages_per_entity=5, seed=31, embedding_dim=16)
    )
    first = _round(spark, wp)
    before = _compilations(spark)
    second = _round(spark, wp)
    assert _compilations(spark) - before == 0
    assert second == first
    assert all(first)  # every operator produced rows
