"""Dedup operator tests: planted duplicates must be found, non-duplicates
must not."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crocodile_spark.operators.dedup import (
    _simhash_reference,
    dedup_keep_first,
    embedding_near_dup_pairs,
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (1, "an entirely different document about spark dataframes and shuffles"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank today"),  # dup of 0
        (3, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near-dup of 0
        (4, "completely unrelated text regarding molecular biology experiments"),
        (5, "An Entirely Different Document About Spark DataFrames and Shuffles"),  # case-dup of 1
    ]
    return spark.createDataFrame(base, ["doc_id", "text"]).cache()


def test_exact_duplicates(spark, docs):
    got = exact_duplicates(docs).collect()
    groups = {r["keep_id"]: r["n_dups"] for r in got}
    assert groups == {0: 2, 1: 2}  # (0,2) and case-insensitive (1,5)


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()
    }
    assert (0, 2) in pairs and pairs[(0, 2)] == 1.0
    assert (0, 3) in pairs and pairs[(0, 3)] >= 0.5
    assert not any({a, b} == {1, 4} for a, b in pairs)


def _reference_minhash_pairs(df, jaccard_threshold, max_bucket_size, portable):
    """The near-dup MinHash law as dedup spelled it before it shared the
    ER band builder: its own explode -> ``min`` signature (md5 affine arm
    when portable), its own ``b<i>:`` band keys and its own bucket cap,
    then the exact-Jaccard verify."""
    from crocodile_spark.functions.normalize import char_ngrams
    from crocodile_spark.functions.similarity import set_jaccard
    from crocodile_spark.operators.dedup import (
        minhash_affine_constants,
        portable_hash64,
    )

    k, bsz = 16, 4
    sh = df.select(
        F.col("doc_id").alias("id"),
        F.explode(char_ngrams(F.lower(F.col("text")), 3)).alias("sh"),
    )
    if portable:
        base = portable_hash64(F.col("sh"), 0)
        sh = sh.select(
            "id",
            F.shiftright(base, 30).alias("_hi"),
            base.bitwiseAND(F.lit((1 << 30) - 1)).alias("_lo"),
        )
        ab = minhash_affine_constants(k)
        hashes = [F.col("_hi") * a + F.col("_lo") * b for a, b in ab]
    else:
        hashes = [F.xxhash64("sh", F.lit(i)) for i in range(k)]
    sig = sh.groupBy("id").agg(*[F.min(h).alias(f"mh{i}") for i, h in enumerate(hashes)])

    def band_hash(c):
        return F.substring(F.md5(c), 1, 16) if portable else F.xxhash64(c).cast("string")

    bands = F.array(
        *[
            F.concat(
                F.lit(f"b{b}:"),
                band_hash(
                    F.concat_ws(
                        "_", *[F.col(f"mh{b * bsz + j}").cast("string") for j in range(bsz)]
                    )
                ),
            )
            for b in range(k // bsz)
        ]
    )
    buckets = sig.select("id", F.explode(bands).alias("bucket"))
    ok = buckets.groupBy("bucket").count().where(F.col("count") <= max_bucket_size)
    capped = buckets.join(ok.select("bucket"), "bucket")
    a = capped.select("bucket", F.col("id").alias("id_a"))
    b = capped.select("bucket", F.col("id").alias("id_b"))
    pairs = (
        a.join(b, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    if jaccard_threshold is None:
        return pairs
    grams = df.select(
        F.col("doc_id").alias("id"), char_ngrams(F.lower(F.col("text")), 3).alias("grams")
    )
    return (
        pairs.join(grams.withColumnsRenamed({"id": "id_a", "grams": "ga"}), "id_a")
        .join(grams.withColumnsRenamed({"id": "id_b", "grams": "gb"}), "id_b")
        .select("id_a", "id_b", set_jaccard(F.col("ga"), F.col("gb")).alias("jaccard"))
        .where(F.col("jaccard") >= jaccard_threshold)
    )


@pytest.mark.parametrize("portable", [False, True])
@pytest.mark.parametrize("jaccard_threshold", [None, 0.5])
def test_minhash_lsh_pairs_equal_reference_law(spark, docs, portable, jaccard_threshold):
    """minhash_lsh_pairs, built on the ER band builder and the shared
    capped-bucket step, returns exactly the reference law's rows on dirty
    input: NULL, empty and shorter-than-a-shingle texts, exact and
    case-only duplicates, and one group of five identical texts whose
    buckets exceed ``max_bucket_size`` and are dropped whole."""
    import random

    hot = "boilerplate footer text repeated on every page of the site"
    rnd = random.Random(7)
    words = ["alpha", "beta", "gamma", "delta", "omega", "sigma", "kappa", "zeta"]
    # short texts over a small vocabulary: partial overlaps whose band
    # collisions depend on the exact slot and band hashes
    mixed = [(100 + i, " ".join(rnd.choices(words, k=4))) for i in range(40)]
    dirty = spark.createDataFrame(
        [(10, None), (11, ""), (12, "ab"), (13, "ab"), (14, "the quick brown fox")]
        + [(20 + i, hot) for i in range(5)]
        + mixed,
        "doc_id long, text string",
    )
    df = docs.unionByName(dirty)
    got = sorted(
        minhash_lsh_pairs(
            df, jaccard_threshold=jaccard_threshold, max_bucket_size=4, portable=portable
        ).collect()
    )
    want = sorted(_reference_minhash_pairs(df, jaccard_threshold, 4, portable).collect())
    assert got == want
    ids = {(r["id_a"], r["id_b"]) for r in got}
    assert (0, 2) in ids and (1, 5) in ids
    assert not any(20 <= a < 25 for a, _ in ids)  # the capped group pairs nowhere


def test_simhash_properties(spark, docs):
    fp = {r["id"]: r["simhash"] for r in simhash(docs, "text", "doc_id").collect()}
    assert fp[0] == fp[2]          # identical text -> identical fingerprint
    assert fp[1] == fp[5]          # tokenization is case-insensitive
    assert fp[0] != fp[1]


@pytest.mark.parametrize("portable", [False, True])
def test_simhash_arrow_default_equals_native(spark, docs, portable):
    """simhash runs the Arrow bit-count fold; its fingerprints must equal
    the native sum-of-bits reference law's (``_simhash_reference``), for
    the xxhash64 law and the portable md5 law (60 bits). Extra documents
    cover one token, many tokens (bit 63 set or not) and text with no
    tokens."""
    extra = spark.createDataFrame(
        [
            (10, "solo"),
            (11, " ".join(f"tok{i}" for i in range(300))),
            (12, "!!! ???"),
            (13, "a b c d e f g h i j k l m n o p q r s t u v w x y z"),
        ],
        ["doc_id", "text"],
    )
    df = docs.unionByName(extra)
    bits = 60 if portable else 64
    default = simhash(df, "text", "doc_id", bits=bits, portable=portable)
    native = _simhash_reference(df, "text", "doc_id", bits=bits, portable=portable)
    got = {r["id"]: r["simhash"] for r in default.collect()}
    want = {r["id"]: r["simhash"] for r in native.collect()}
    assert len(got) >= 9
    assert got == want


def test_simhash_pairs(spark, docs):
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_pairs(docs).collect()}
    assert got.get((0, 2)) == 0
    assert got.get((1, 5)) == 0
    assert (0, 4) not in got


def test_simhash_hamming_tracks_similarity(spark):
    """With a long doc, a one-token change moves few bits; unrelated text
    moves many."""
    base = " ".join(f"tok{i}" for i in range(60))
    near = base.replace("tok59", "tok99")
    other = " ".join(f"zzz{i}" for i in range(60))
    df = spark.createDataFrame(
        [(0, base), (1, near), (2, other)], ["doc_id", "text"]
    )
    fp = {r["id"]: r["simhash"] for r in simhash(df, "text", "doc_id").collect()}
    ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")  # noqa: E731
    assert ham(fp[0], fp[1]) < ham(fp[0], fp[2])
    assert ham(fp[0], fp[1]) <= 10


def test_ngram_jaccard_pairs(spark, docs):
    d = docs.withColumn("block", F.lit("b"))
    got = {
        (r["id_a"], r["id_b"]) for r in
        ngram_jaccard_pairs(d, ["block"], threshold=0.8).collect()
    }
    assert (0, 2) in got and (0, 3) in got and (1, 4) not in got


def test_dedup_keep_first(spark, docs):
    pairs = minhash_lsh_pairs(docs, jaccard_threshold=0.5)
    kept = dedup_keep_first(docs, pairs)
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    # cluster {0,2,3} -> keep 0; {1,5} -> keep 1; singleton 4 stays
    assert ids == {0, 1, 4}


def test_embedding_near_dup(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),      # orthogonal
        (3, [-1.0, 0.0, 0.0, 0.0]),     # opposite
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["id_a"], r["id_b"]) for r in
        embedding_near_dup_pairs(df, threshold=0.95, num_planes=4).collect()
    }
    assert (0, 1) in got
    assert all(p in {(0, 1)} for p in got)


def test_embedding_near_dup_recall_vs_brute_force(spark):
    """Recall gate: banded LSH (OR over tables) must recover >= 0.9 of the
    true cosine>=0.95 pairs that a single AND-construction would miss ~80%
    of. Deterministic planted near-dups at a ~18-degree max angle."""
    import math
    import random

    rnd = random.Random(7)
    dim = 16
    rows = []
    vid = 0
    for base in range(40):
        v = [rnd.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v))
        v = [x / n for x in v]
        rows.append((vid, v)); vid += 1
        # planted near-dup: small deterministic perturbation
        w = [x + 0.12 * rnd.gauss(0, 1) / math.sqrt(dim) for x in v]
        rows.append((vid, w)); vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    from crocodile_spark.operators.similarity_search import brute_force_topk

    exact_pairs = {
        (r["query_id"], r["cand_id"])
        for r in brute_force_topk(
            df.select(F.col("vec_id").alias("query_id"), "embedding"),
            df.select(F.col("vec_id").alias("cand_id"), "embedding"),
            k=len(rows),
        ).where((F.col("cosine") >= 0.95) & (F.col("query_id") < F.col("cand_id"))).collect()
    }
    assert len(exact_pairs) >= 30  # the fixture really plants near-dups
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(df, threshold=0.95).collect()
    }
    assert not got - exact_pairs  # exact-cosine verify: zero false positives
    recall = len(got & exact_pairs) / len(exact_pairs)
    assert recall >= 0.9, f"banded-LSH recall {recall:.2f}"
