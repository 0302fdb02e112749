"""Deduplication operators for large-scale training-data pipelines.

Five families, all returning DataFrames (ids/pairs/cluster assignments):

- exact_duplicates:     sha256 hash-groupBy (F3 law)
- minhash_lsh_pairs:    shingle -> MinHash signature -> banded LSH buckets
                        -> in-bucket pair join -> optional exact-Jaccard
                        verification (classic MinHash+LSH)
- simhash_pairs:        64-bit SimHash over token hashes; near-dup when
                        Hamming distance <= k, found via 4-segment blocking
                        (pigeonhole: <=3 differing bits -> one of 4
                        16-bit segments is equal)
- ngram_jaccard_pairs:  char-3-gram Jaccard over blocked pairs
- embedding_near_dup_pairs: cosine near-dup over an embedding column via
                        random-hyperplane LSH bucketing

Scale posture: every family is explode -> aggregate/join on a bounded key
(block caps where a key can be hot); no driver-side loops. Hashing and set
algebra are native expressions. The LSH bucket law lives in
``operators.blocking`` and is shared with ER blocking and ``lsh_topk``:
MinHash bands come from ``minhash_band_keys`` (the ER band builder, with
its md5 ``portable`` arm), and each LSH family passes only its (id, key)
bucket projection to ``capped_buckets``, which materializes the rows with
the layer's one eager ``localCheckpoint`` and drops keys above the cap.
``minhash_affine_constants`` and ``portable_hash64`` are re-exported here
for the DuckDB oracle generator.

Two families' plans hold Arrow pandas UDFs: ``simhash`` /
``simhash_pairs`` fold the per-document bit counts in one integer-exact
UDF, because the native 60-aggregate form costs seconds of Catalyst
plan/codegen time per query; ``embedding_near_dup_pairs`` uses the
similarity_search bucket kernel and the ``emb_kernels`` cosine fold.
Each is bit-identical to a native law that the tests keep as its
reference (``_simhash_reference``; the similarity_search native twins).

``minhash_lsh_pairs`` (when verifying) and ``ngram_jaccard_pairs`` return
frames backed by a lazy ``localCheckpoint``: see their docstrings.
"""

from __future__ import annotations

import pandas as pd  # module-level so pandas_udf type hints resolve

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crocodile_spark.functions.normalize import char_ngrams, tokenize
from crocodile_spark.functions.similarity import set_jaccard
from crocodile_spark.operators.blocking import (  # noqa: F401  (re-exported laws)
    capped_buckets,
    minhash_affine_constants,
    minhash_band_keys,
    portable_hash64,
    spread as _spread,
)


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: groups of identical (trimmed, lowercased) texts.

    Returns (text_sha, n_dups, keep_id) for groups with >1 member; the
    deterministic survivor is the minimum id.
    """
    h = F.sha2(F.trim(F.lower(F.col(text_col))), 256)
    return (
        df.select(h.alias("text_sha"), F.col(id_col).alias("id"))
        .groupBy("text_sha")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("id").alias("keep_id"))
        .where(F.col("n_dups") > 1)
    )


def _capped_bucket_pairs(
    buckets: DataFrame, max_bucket_size: int, payload: str | None = None
) -> DataFrame:
    """The in-bucket pair join of the LSH families: distinct (id_a, id_b)
    pairs, ``id_a < id_b``, of ids sharing a ``key`` of the
    :func:`~crocodile_spark.operators.blocking.capped_buckets` rows of
    ``buckets``. A ``payload`` column of ``buckets`` rides along as
    ``<payload>_a`` / ``<payload>_b``."""
    capped = capped_buckets(buckets, max_bucket_size)
    cols = ["id", *([payload] if payload else [])]
    a, b = (
        capped.select("key", *[F.col(c).alias(f"{c}_{s}") for c in cols])
        for s in "ab"
    )
    return (
        a.join(b, "key")
        .where(F.col("id_a") < F.col("id_b"))
        .drop("key")
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    band_size: int = 4,
    shingle_size: int = 3,
    jaccard_threshold: float | None = 0.7,
    max_bucket_size: int = 256,
    portable: bool = False,
) -> DataFrame:
    """MinHash+LSH near-duplicate candidate pairs, optionally verified.

    Docs sharing any LSH band land in the same bucket; buckets above
    ``max_bucket_size`` are dropped (degenerate content). When
    ``jaccard_threshold`` is set, candidates are verified with the exact
    char-shingle Jaccard and filtered. ``portable=True`` switches both the
    signature and the band hash to the md5-based law so a DuckDB oracle
    can reproduce the pairs bit-for-bit.

    The band keys come from the ER blocking law
    (:func:`~crocodile_spark.operators.blocking.minhash_band_keys`) over
    the lowercased text; the (id, key) rows are materialized once by the
    shared capped-bucket step.

    With ``jaccard_threshold`` set, the returned frame is backed by a lazy
    ``localCheckpoint`` of the verified (id_a, id_b, jaccard) rows (the
    single-evaluation barrier below): its lineage is truncated, so a lost
    executor fails later actions instead of recomputing them, its blocks
    stay cached until the frame is garbage-collected, and the first action
    materializes every candidate pair's score before the threshold filter.
    """
    text = _spread(df).select(
        F.col(id_col).alias("id"), F.lower(F.col(text_col)).alias("text")
    )
    bands = minhash_band_keys(
        text, "id", "text", num_hashes, band_size, shingle_size, portable
    )
    pairs = _capped_bucket_pairs(
        bands.select("id", F.explode("mh_bands").alias("key")), max_bucket_size
    )
    if jaccard_threshold is None:
        return pairs
    grams = text.select("id", char_ngrams(F.col("text"), shingle_size).alias("grams"))
    joined = pairs.join(
        grams.withColumnsRenamed({"id": "id_a", "grams": "ga"}), "id_a"
    ).join(grams.withColumnsRenamed({"id": "id_b", "grams": "gb"}), "id_b")
    # the exact-Jaccard verify is array-CPU-heavy but byte-light, so AQE
    # coalesces it onto too few tasks: force pair-key width before computing
    # (explicit partition count -- a bare column repartition is itself
    # AQE-coalescible and collapses back to one task)
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    scored = (
        joined.repartition(n_part, "id_a", "id_b")
        .select(
            "id_a", "id_b", set_jaccard(F.col("ga"), F.col("gb")).alias("jaccard")
        )
        # single-evaluation barrier (r8): a threshold filter directly above
        # the projection is pushed below it, substituting the whole
        # array-intersect expression into the condition -- every candidate
        # pair then pays the set ops TWICE (filter + project). The lazy
        # checkpoint of the 3-scalar-per-pair projection (ids + jaccard,
        # grams already dropped) cuts the plan so the verify runs once;
        # the materialized rows are trivial at any scale relative to the
        # gram arrays the stage already holds.
        .localCheckpoint(eager=False)
        .where(F.col("jaccard") >= jaccard_threshold)
    )
    return scored


def _simhash_fold_udf(bits: int):
    """Arrow fingerprint fold: collect_list(token hash) -> simhash long.

    INTEGER-EXACT twin of the native sum-of-bits law
    (:func:`_simhash_reference`): per bit i, s_i = sum over tokens of
    +/-1 = 2*popcount_i - n, fingerprint bit i set iff s_i > 0 -- all
    int64 arithmetic, so the result is bit-identical to the native law
    with zero fp-summation caveats. Exists because the native form's 60
    sum(CASE) aggregates + 60-term fingerprint fold cost ~7 s of
    DRIVER-side Catalyst/Janino work per query at any data size
    (measured r8, plan=7.1 s vs exec=1.1 s at sf0.1) -- the plan, not the
    data, was the bottleneck (guide section 4.2: batch the custom
    arithmetic in numpy, keep Spark for distribution).
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    shifts = np.arange(bits, dtype=np.uint64)

    @pandas_udf("long")
    def fold(hs: pd.Series) -> pd.Series:
        out = np.empty(len(hs), dtype=np.int64)
        for i, row in enumerate(hs):
            h = np.asarray(row, dtype=np.int64).view(np.uint64)
            # bit i of h survives (h >> i) & 1 under arithmetic or logical
            # shift alike, so uint64 shifting matches the JVM law exactly
            cnt = ((h[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
            mask = (2 * cnt) > len(h)  # s_i = 2*c_i - n > 0
            fp = (mask.astype(np.uint64) << shifts).sum(dtype=np.uint64)
            out[i] = fp.astype(np.int64)  # bit 63 wraps to -(1<<63), as native
        return pd.Series(out)

    return fold


def _token_hashes(
    df: DataFrame, text_col: str, id_col: str, portable: bool
) -> DataFrame:
    """(id, h): one row per document token with its 64-bit (or portable
    60-bit) hash -- the input of both SimHash folds."""
    tok_hash = (
        portable_hash64(F.col("tok"), 0) if portable else F.xxhash64("tok")
    )
    return _spread(df).select(
        F.col(id_col).alias("id"),
        F.explode(tokenize(F.col(text_col))).alias("tok"),
    ).select("id", tok_hash.alias("h"))


def simhash(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """SimHash over the document's token set.

    Each token contributes its hash bit pattern; the fingerprint bit i is
    1 when more tokens have bit i set than unset. ``portable=True`` uses
    the md5 60-bit hash law (callers should pass bits=60 with it) so a
    DuckDB oracle can reproduce fingerprints exactly.

    The plan holds a pandas UDF: tokens are hashed in the JVM, then the
    per-document bit-count fold runs as one Arrow pandas UDF over
    collect_list(h) -- integer-exact, bit-identical to the native
    sum-of-bits law (see _simhash_fold_udf). The aggregation state is the
    document's own token hashes (bounded by the document's size, which
    already travels the pipeline), not a hot-key blowup.
    """
    hs = _token_hashes(df, text_col, id_col, portable).groupBy("id").agg(
        F.collect_list("h").alias("_hs")
    )
    return hs.select("id", _simhash_fold_udf(bits)(F.col("_hs")).alias("simhash"))


def _simhash_reference(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """The native SimHash law, the reference the Arrow fold of
    :func:`simhash` is tested against: explode -> aggregate, per bit
    sum(+/-1) via shiftright/and, then a ``bits``-term fingerprint fold.
    Same fingerprints as ``simhash``, ~7 s/query slower to PLAN."""
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(bits)
    ]
    sums = _token_hashes(df, text_col, id_col, portable).groupBy("id").agg(*aggs)
    fp = sum(
        (
            F.when(F.col(f"s{i}") > 0, F.lit(1).cast("long") * (1 << i) if i < 63
                   else F.lit(-(1 << 63))).otherwise(F.lit(0).cast("long"))
            for i in range(bits)
        ),
        F.lit(0).cast("long"),
    )
    return sums.select("id", fp.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_size: int = 256,
    portable: bool = False,
) -> DataFrame:
    """SimHash near-dup pairs: 4-segment pigeonhole blocking + exact
    Hamming verification (<= max_hamming, which must be <= 3 for 4
    segments to guarantee recall). Fingerprints ride through the shared
    capped-bucket step as payload."""
    bits = 60 if portable else 64
    seg_bits = bits // 4
    fp = simhash(df, text_col, id_col, bits=bits, portable=portable)
    segs = F.array(
        *[
            F.concat(
                F.lit(f"seg{s}:"),
                F.shiftright(F.col("simhash"), s * seg_bits)
                .bitwiseAND(F.lit((1 << seg_bits) - 1))
                .cast("string"),
            )
            for s in range(4)
        ]
    )
    buckets = fp.select("id", "simhash", F.explode(segs).alias("key"))
    return (
        _capped_bucket_pairs(buckets, max_bucket_size, payload="simhash")
        .withColumn(
            "hamming",
            F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))),
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    block_cols: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    n: int = 3,
) -> DataFrame:
    """Char-n-gram Jaccard near-dup pairs within explicit blocks.

    The returned frame is backed by a lazy ``localCheckpoint`` of every
    in-block pair's score (the single-evaluation barrier of
    minhash_lsh_pairs, with the same truncated-lineage semantics)."""
    d = _spread(df).select(
        F.col(id_col).alias("id"),
        *block_cols,
        char_ngrams(F.lower(F.col(text_col)), n).alias("grams"),
    )
    a = d.select(F.col("id").alias("id_a"), *block_cols, F.col("grams").alias("ga"))
    b = d.select(F.col("id").alias("id_b"), *block_cols, F.col("grams").alias("gb"))
    return (
        a.join(b, block_cols)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", set_jaccard(F.col("ga"), F.col("gb")).alias("jaccard")
        )
        # single-evaluation barrier: see minhash_lsh_pairs
        .localCheckpoint(eager=False)
        .where(F.col("jaccard") >= threshold)
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_planes: int = 4,
    num_tables: int = 4,
    seed: int = 42,
    max_bucket_size: int = 1024,
) -> DataFrame:
    """Embedding-cosine near-dup via banded random-hyperplane LSH.

    OR-construction: docs are candidates when their sign patterns agree on
    all ``num_planes`` hyperplanes of AT LEAST ONE of ``num_tables``
    independent tables; exact cosine verifies within buckets. A single
    AND-construction of many planes has vanishing recall (at cosine 0.95 a
    16-plane table catches only ~19% of true pairs); 4 tables x 4 planes
    gives ~0.98 theoretical recall at the same threshold (gated by
    tests/test_dedup.py). Buckets for every table come from one projection
    + one explode; ids only travel through the bucket join, vectors are
    re-joined after the pair dedup.

    The plan holds two Arrow pandas UDFs: the guarded-matmul bucket kernel
    (similarity_search.hyperplane_table_buckets_udf) and the cosine fold
    (emb_kernels.cosine_fold). A NULL or wrong-width embedding gets no
    bucket, so it is never a candidate.
    """
    from crocodile_spark.functions.emb_kernels import cosine_fold
    from crocodile_spark.operators.similarity_search import (
        embedding_dim,
        hyperplane_table_buckets_udf,
    )

    dim = embedding_dim(df, emb_col)
    if dim is None:
        return df.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cosine double"
        )
    buckets = hyperplane_table_buckets_udf(dim, num_planes, num_tables, seed)
    pairs = _capped_bucket_pairs(
        _spread(df).select(
            F.col(id_col).alias("id"), F.explode(buckets(F.col(emb_col))).alias("key")
        ),
        max_bucket_size,
    )
    v = df.select(F.col(id_col).alias("id"), F.col(emb_col).alias("v"))
    return (
        pairs.join(v.withColumnsRenamed({"id": "id_a", "v": "va"}), "id_a")
        .join(v.withColumnsRenamed({"id": "id_b", "v": "vb"}), "id_b")
        .withColumn("cosine", cosine_fold(F.col("va"), F.col("vb")))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def dedup_keep_first(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Materialize a deduplicated corpus: treat near-dup pairs as edges,
    cluster transitively (large-star/small-star CC), keep the minimum id
    per cluster."""
    from crocodile_spark.operators.clustering import connected_components

    edges = pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    assign = connected_components(edges)
    drop = assign.where(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")
