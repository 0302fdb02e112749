#!/usr/bin/env python
"""Train the broadcast logistic scorer (M1 replacement) on the synthetic
gold corpus and persist weights as JSON plan literals.

The reference ships a Keras MLP (crocodile/models/default.h5); this engine
replaces it with a logistic model whose weights are literals in the Spark
plan (zero per-task pickling). Training is plain numpy gradient descent on
the pair features of gold-labeled candidate pairs -- no sklearn/TF
dependency.

Usage: python scripts/train_scorer.py [--with-embeddings] [out_json]

``--with-embeddings`` (r6): train over a corpus generated with
embedding_dim=16 so the feature set includes emb_cosine; writes
logistic_weights_emb.json, loaded by score() when the record table
carries an embedding column.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:]]
    with_emb = "--with-embeddings" in args
    if with_emb:
        args.remove("--with-embeddings")
    default_name = "logistic_weights_emb.json" if with_emb else "logistic_weights.json"
    out_path = (
        args[0]
        if args
        else os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "crocodile_spark",
            "models",
            default_name,
        )
    )
    from pyspark.sql import functions as F

    from crocodile_spark.config import PipelineConfig
    from crocodile_spark.datagen import corpus_to_spark, make_corpus
    from crocodile_spark.operators.scoring import EMB_FEATURE, PAIR_FEATURES
    from crocodile_spark.pipeline import run_pipeline
    from crocodile_spark.session import get_spark

    features = PAIR_FEATURES + ((EMB_FEATURE,) if with_emb else ())
    spark = get_spark(app_name="train-scorer", master="local[8]", shuffle_partitions=8)
    corpus = make_corpus(
        n_entities=120, pages_per_entity=6, seed=7,
        embedding_dim=16 if with_emb else 0,
    )
    wp, _, gold = corpus_to_spark(spark, corpus)
    out = run_pipeline(spark, wp, PipelineConfig(), use_html=True)

    # label every blocked pair from the planted entity ids (the gold table
    # only covers a sample of negatives; this gives balanced hard negatives
    # that actually co-occur in blocks)
    ents_a = wp.selectExpr("url as url_a", "entity_id as ent_a")
    ents_b = wp.selectExpr("url as url_b", "entity_id as ent_b")
    labeled = (
        out.scored.join(ents_a, "url_a")
        .join(ents_b, "url_b")
        .selectExpr(*features, "cast(ent_a = ent_b as int) as label")
    )
    pos = labeled.where("label = 1")
    neg = labeled.where("label = 0")
    n_pos, n_neg = pos.count(), neg.count()
    if n_neg > n_pos:
        neg = neg.sample(fraction=min(1.0, n_pos / n_neg), seed=7)
    pdf = pos.unionByName(neg).toPandas()
    X = pdf[list(features)].to_numpy(dtype=float)
    y = pdf["label"].to_numpy(dtype=float)
    n, d = X.shape
    print(f"training on {n} labeled pairs ({int(y.sum())} positive), {d} features")

    # logistic regression, L2-regularized, full-batch gradient descent
    w = np.zeros(d)
    b = 0.0
    lr, lam = 0.5, 1e-3
    for i in range(3000):
        z = X @ w + b
        p = 1.0 / (1.0 + np.exp(-z))
        g_w = X.T @ (p - y) / n + lam * w
        g_b = float(np.mean(p - y))
        w -= lr * g_w
        b -= lr * g_b
    p = 1.0 / (1.0 + np.exp(-(X @ w + b)))
    pred = (p >= 0.5).astype(float)
    tp = float(((pred == 1) & (y == 1)).sum())
    fp = float(((pred == 1) & (y == 0)).sum())
    fn = float(((pred == 0) & (y == 1)).sum())
    prec = tp / (tp + fp) if tp + fp else 0.0
    rec = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    print(f"train F1 {f1:.4f} (p={prec:.4f}, r={rec:.4f})")

    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    payload = {
        "features": list(features),
        "weights": {c: round(float(wi), 6) for c, wi in zip(features, w)},
        "bias": round(float(b), 6),
        "train": {"n": n, "f1": round(f1, 4), "seed": 7},
    }
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=2)
    print("wrote", out_path)


if __name__ == "__main__":
    main()
