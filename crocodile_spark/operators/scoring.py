"""Stage 3 -- pairwise scoring (SURVEY.md section 7.1 step 4).

Re-expresses crocodile's feature algebra (X1, crocodile/feature.py:87-153)
for record *pairs*: the features the reference received from LamAPI
(ed_score, jaccard_score, jaccardNgram_score) are computed in-engine as
native column expressions; the heuristic score is the reference's W1 law --
the arithmetic mean of the available similarity features
(crocodile/processors.py:325-343) -- and the ML re-ranker (M1,
crocodile/ml.py:57-60) is replaced by a broadcast logistic scorer:
sigmoid(w . f + b) as a single native expression.

Scale notes: the pair table joins the (much smaller) signature table twice
-- both joins are plain hash joins on url; no Python in the loop (the
Jaro-Winkler UDF of ``functions.similarity`` is not a scoring feature).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crocodile_spark.config import PipelineConfig
from crocodile_spark.functions.similarity import (
    levenshtein_similarity,
    monge_elkan_lev,
    ngram_jaccard,
    set_jaccard,
)
from crocodile_spark.operators.blocking import spread

# ed/jaccard/jaccardNgram/desc are the reference's X1 slots; me_score is the
# token-set-aware edit similarity (Monge-Elkan, native Levenshtein inner
# loop) standing in for the reference's *fuzzy* retrieval pass (T5,
# processors.py:177-202).
PAIR_FEATURES = ("ed_score", "jaccard_score", "jaccardNgram_score", "desc", "me_score")

# Optional slot (r6, north_star parity: "embedding-cosine features ...
# feeding a broadcast logistic scorer"): computed when the record table
# carries an ``embedding`` column; missing/null vectors score 0.0 (no
# evidence), matching the coalesce law of the other slots.
EMB_FEATURE = "emb_cosine"

# Default logistic weights (trained offline on the synthetic gold corpus via
# scripts/train_scorer.py; persisted here as plain literals -- the analog of
# the reference shipping crocodile/models/default.h5, but broadcastable).
DEFAULT_WEIGHTS = {
    "ed_score": 4.0,
    "jaccard_score": 4.0,
    "jaccardNgram_score": 4.0,
    "desc": 2.0,
    "me_score": 6.0,
}
DEFAULT_BIAS = -9.0


def load_trained_weights(variant: str = "base") -> tuple[dict, float] | None:
    """Weights fitted by scripts/train_scorer.py, if present.

    ``variant='emb'`` loads the embedding-augmented model
    (logistic_weights_emb.json, trained with --with-embeddings); the two
    files are kept separate so corpora WITHOUT an embedding column never
    reference a missing feature column in the plan."""
    import json
    import os

    name = "logistic_weights_emb.json" if variant == "emb" else "logistic_weights.json"
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "models",
        name,
    )
    if not os.path.exists(path):
        return None
    with open(path) as f:
        payload = json.load(f)
    return payload["weights"], float(payload["bias"])


def embedding_cosine(a, b):
    """Native cosine between two array<double> columns; null/empty/zero
    vectors -> 0.0 (no evidence). HOF expressions run interpreted
    (CodegenFallback) but at feature dims (16-768) one dot per pair is
    far cheaper than shipping pairs through a Python worker; the Arrow
    matmul path (similarity_search) exists for top-k sweeps where the
    same vector is dotted against thousands."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, x: s + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda s, x: s + x * x))
    # size guard: zip_with pads the shorter array with nulls, nulling the
    # dot product -- without it a length-mismatched pair scores NULL (which
    # would null the whole heuristic sum) instead of "no evidence" 0.0
    return F.when(
        a.isNotNull()
        & b.isNotNull()
        & (F.size(a) == F.size(b))
        & (na > 0)
        & (nb > 0),
        dot / (na * nb),
    ).otherwise(F.lit(0.0))


# the per-side projection of the signature table: (column, pair-side prefix)
_SIDE_COLUMNS = (
    ("url", "url"),
    ("mention_norm", "mention"),
    ("sig_tokens", "sig_tokens"),
    ("tokens", "tokens"),
    ("row_hash", "row_hash"),
)


def _logistic_params(has_emb: bool) -> tuple[tuple[tuple[str, float], ...], float]:
    """(weights as ordered (feature, weight) pairs, bias) of the logistic
    scorer: the trained weights JSON, read on every call so a refit takes
    effect at once, else the literal defaults."""
    trained = load_trained_weights("emb" if has_emb else "base")
    if trained is None:
        trained = (
            ({**DEFAULT_WEIGHTS, EMB_FEATURE: 4.0}, DEFAULT_BIAS - 2.0)
            if has_emb
            else (DEFAULT_WEIGHTS, DEFAULT_BIAS)
        )
    weights, bias = trained
    return tuple((c, float(w)) for c, w in weights.items()), float(bias)


@functools.cache
def _side_columns(side: str, has_emb: bool) -> tuple[Column, ...]:
    """The signature columns one side of a pair joins on, renamed with the
    side suffix (``a`` or ``b``), built once per process."""
    cols = _SIDE_COLUMNS + ((("embedding", "emb"),) if has_emb else ())
    return tuple(F.col(c).alias(f"{prefix}_{side}") for c, prefix in cols)


@functools.cache
def _feature_columns(has_emb: bool) -> tuple[Column, ...]:
    """The pair feature columns over the joined pair table, built once per
    process."""
    features = (
        levenshtein_similarity(F.col("mention_a"), F.col("mention_b")).alias("ed_score"),
        # sig_tokens come from collect_set: distinct -> set_jaccard law
        set_jaccard(F.col("sig_tokens_a"), F.col("sig_tokens_b")).alias("jaccard_score"),
        ngram_jaccard(F.col("mention_a"), F.col("mention_b")).alias("jaccardNgram_score"),
        # 'desc' slot: full-token-set overlap = context similarity, the
        # in-engine analog of the BoW feature (X2, processors.py:285-292)
        set_jaccard(F.col("tokens_a"), F.col("tokens_b")).alias("desc"),
        monge_elkan_lev(F.col("sig_tokens_a"), F.col("sig_tokens_b")).alias("me_score"),
    )
    if has_emb:
        features += (embedding_cosine(F.col("emb_a"), F.col("emb_b")).alias(EMB_FEATURE),)
    return features


@functools.cache
def _score_columns(
    has_emb: bool,
    weights: tuple[tuple[str, float], ...],
    bias: float,
    threshold: float,
) -> tuple[Column, ...]:
    """The scored-pair columns over the feature table, built once per
    process: the W1 heuristic (arithmetic mean of the features, 0.0 if
    none), the M1 replacement sigmoid(w . f + b) with the weights as plan
    literals (the moral equivalent of a broadcast variable, with zero
    pickling per task), and the edge flag."""
    features = PAIR_FEATURES + ((EMB_FEATURE,) if has_emb else ())
    mean = sum((F.col(c) for c in features), F.lit(0.0)) / float(len(features))
    heuristic = F.coalesce(mean, F.lit(0.0))
    z = sum(
        (F.coalesce(F.col(c), F.lit(0.0)) * w for c, w in weights),
        F.lit(bias),
    )
    exact = F.col("row_hash_a") == F.col("row_hash_b")
    return (
        F.col("url_a"),
        F.col("url_b"),
        *[F.col(c) for c in features],
        heuristic.alias("score"),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-z))).alias("match_prob"),
        ((heuristic >= threshold) | exact).alias("is_edge"),
    )


def score(pairs: DataFrame, sigs: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Full stage 3: features + W1 heuristic + logistic prob + edge flag.

    pairs(url_a, url_b) joins the signature table once per side. Join
    strategy: left to AQE -- it converts to broadcast-hash at runtime when
    the signature side's actual size is under the threshold, and splits
    skewed partitions otherwise (both enabled in the session defaults). No
    broadcast is forced: the driver-side broadcast build is
    single-threaded, so forcing it hurts scaling when the join would have
    been fine.

    Exact duplicates (equal F3 row hashes) are certain matches regardless
    of the similarity score -- empty mention signatures would otherwise
    score identical texts below threshold.

    With an ``embedding`` column on the record table the ``emb_cosine``
    slot joins the feature set: it enters the W1 mean (heuristic score)
    and the logistic scorer switches to the embedding-augmented trained
    weights (logistic_weights_emb.json) with a literal fallback weight.
    Output schema gains the emb_cosine column only when the input has
    embeddings, so embedding-less corpora are byte-identical to r5.
    Logistic resolution order: trained weights JSON > defaults.

    ``pairs`` goes through the :func:`~blocking.spread` width guard first:
    a deduplicated pair table is small in bytes, so AQE coalesces its
    shuffle to one partition, and the per-pair feature projection would
    then run as a single task.

    Two projections over the join: the features, then the scored columns
    that read them, so no feature expression is evaluated twice.
    """
    has_emb = "embedding" in sigs.columns
    weights, bias = _logistic_params(has_emb)
    features = _feature_columns(has_emb)
    df = (
        spread(pairs, downstream_heavy=True)
        .join(sigs.select(*_side_columns("a", has_emb)), "url_a", "inner")
        .join(sigs.select(*_side_columns("b", has_emb)), "url_b", "inner")
    )
    return df.select("url_a", "url_b", "row_hash_a", "row_hash_b", *features).select(
        *_score_columns(has_emb, weights, bias, float(cfg.score_threshold))
    )
