"""End-to-end golden test (SURVEY.md section 5.2 layer 3): deterministic
synthetic corpus with planted entity clusters -> full pipeline -> pairwise
F1 >= 0.99 on labeled pairs sharing a blocking key (the BASELINE.json
north_rule gate)."""

from __future__ import annotations

from pyspark.sql import functions as F

from crocodile_spark.config import PipelineConfig
from crocodile_spark.pipeline import evaluate_pairwise_f1, run_pipeline


def test_pipeline_f1_gate(spark, corpus_dfs):
    wp, _, gold = corpus_dfs
    cfg = PipelineConfig()
    out = run_pipeline(spark, wp, cfg, use_html=True)
    metrics = evaluate_pairwise_f1(out.clusters, gold, out.pairs)
    assert metrics["n_scoped_pairs"] > 100, metrics
    assert metrics["f1"] >= 0.99, metrics


def test_pipeline_clusters_match_planted_entities(spark, corpus_dfs):
    """Cluster purity: records of different entities must not co-cluster,
    and most entities must land in a single cluster."""
    wp, _, gold = corpus_dfs
    cfg = PipelineConfig()
    out = run_pipeline(spark, wp, cfg, use_html=True)
    joined = out.clusters.join(wp.select("url", "entity_id"), "url")
    # purity: each cluster maps to exactly one entity
    impure = (
        joined.groupBy("cluster_id")
        .agg(F.countDistinct("entity_id").alias("n_ents"))
        .where(F.col("n_ents") > 1)
        .count()
    )
    assert impure == 0
    # fragmentation: planted entities should mostly resolve to one cluster
    frag = (
        joined.groupBy("entity_id")
        .agg(F.countDistinct("cluster_id").alias("n_clusters"))
        .agg(F.avg("n_clusters").alias("avg"))
        .collect()[0]["avg"]
    )
    assert frag < 1.5, f"avg clusters per entity {frag}"


def test_pipeline_deterministic(spark, corpus_dfs):
    wp, _, _ = corpus_dfs
    cfg = PipelineConfig()
    a = run_pipeline(spark, wp, cfg, use_html=True).clusters
    b = run_pipeline(spark, wp, cfg, use_html=True).clusters
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_pipeline_tolerates_malformed_html(spark):
    """Web-crawl reality: null payloads, binary junk, unterminated tags,
    and invalid UTF-8 must flow through normalize -> cluster without
    aborting (every record keeps a cluster assignment)."""
    from crocodile_spark.config import PipelineConfig
    from crocodile_spark.pipeline import run_pipeline

    rows = [
        ("https://a.com/1", None, None, None, "en"),
        ("https://a.com/2", None, b"\x00\xff\xfegarbage<<<", None, "en"),
        ("https://a.com/3", None, "<html><p>ok page".encode(), None, "en"),
        ("https://a.com/4", None, "<p>caf\xe9".encode("latin-1"), None, None),
    ]
    wp = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    out = run_pipeline(spark, wp, PipelineConfig(), use_html=True)
    assert out.clusters.count() == 4
    assert out.clusters.where("cluster_id IS NULL").count() == 0


def test_pipeline_f1_with_embedding_feature(spark):
    """r6 (north_star parity): with an embedding column on the input, the
    emb_cosine slot joins the feature set end-to-end and pairwise F1 holds
    the >=0.9998 bar. Embedding-less inputs keep the r5 schema (second
    assert) so every existing oracle is unaffected."""
    from crocodile_spark.datagen import corpus_to_spark, make_corpus

    from crocodile_spark.operators.scoring import EMB_FEATURE, load_trained_weights

    # r7 (VERDICT r6 #4): the TRAINED embedding-variant weights ship with
    # the repo and are what score() resolves -- not the literal fallback
    trained = load_trained_weights("emb")
    assert trained is not None, "logistic_weights_emb.json must ship"
    emb_w, _ = trained
    assert EMB_FEATURE in emb_w and emb_w[EMB_FEATURE] != 4.0

    wp, kb, gold = corpus_to_spark(
        spark,
        make_corpus(n_entities=40, pages_per_entity=6, seed=123, embedding_dim=16),
    )
    out = run_pipeline(spark, wp, PipelineConfig())
    assert "emb_cosine" in out.scored.columns
    m = evaluate_pairwise_f1(out.clusters, gold, out.pairs)
    assert m["f1"] >= 0.9998, m

    wp2, _, _ = corpus_to_spark(
        spark, make_corpus(n_entities=5, pages_per_entity=3, seed=123)
    )
    out2 = run_pipeline(spark, wp2, PipelineConfig())
    assert "emb_cosine" not in out2.scored.columns


def test_embedding_cosine_column_law(spark):
    """emb_cosine: identical vectors -> 1, orthogonal -> 0, null/zero ->
    0.0 (no evidence), matching the SQL oracle's CASE law."""
    from crocodile_spark.operators.scoring import embedding_cosine

    df = spark.createDataFrame(
        [
            ([1.0, 0.0], [1.0, 0.0]),
            ([1.0, 0.0], [0.0, 2.0]),
            (None, [1.0, 0.0]),
            ([0.0, 0.0], [1.0, 0.0]),
            ([3.0, 4.0], [3.0, 4.0]),
        ],
        "a array<double>, b array<double>",
    )
    got = [
        r[0]
        for r in df.select(
            F.round(embedding_cosine(F.col("a"), F.col("b")), 6)
        ).collect()
    ]
    assert got == [1.0, 0.0, 0.0, 0.0, 1.0]
