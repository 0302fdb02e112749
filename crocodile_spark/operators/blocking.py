"""Stage 2 -- multi-key blocking (SURVEY.md section 7.1 step 3).

Replaces the reference's LamAPI candidate retrieval (crocodile/fetchers.py:
51-121, operator S6) with self-contained blocking: candidate *pairs* are
records sharing at least one blocking key, where the key families are

  tok:<token>       distinctive (rare) normalized tokens -- the analog of
                    crocodile's mention-keyed candidate join (J5,
                    crocodile/processors.py:186-200): records sharing a
                    normalized mention share a candidate set;
  host:<host>       URL host (web-specific signal);
  mh<i>:<band>      MinHash LSH bands over char-3-gram shingles (F5 law).

The signature stage computes every per-record input of these families
once: ``block_tokens`` and ``mh_bands`` (the band keys, from one
explode -> ``min`` aggregate over ``text_norm`` shingles) are columns of
the signature table, so all key families come from one projection and one
explode over it -- the cap count and both sides of the pair self-join read
the same cheap projection instead of re-shingling.

The LSH bucket law lives here once and is shared with the near-dup and
ANN layer (operators.dedup, operators.similarity_search): the MinHash band
builder (:func:`minhash_band_keys`, with the md5 ``portable`` arm the
DuckDB oracles reproduce) and the key-cap law (:func:`cap_keys`; the
dedup/ANN families reach it through :func:`capped_buckets`, which holds
their one eager ``localCheckpoint`` of the (id, key) rows).

Exact duplicates (F3 row hash law, crocodile/processors.py:112) are not a
key family: hash groups emit linear min-url star edges (exact_dup_pairs),
immune to block caps and quadratic blowup.

Scale design (10^12-doc posture):
  * token document frequency and every bucket size is a single hash
    aggregation (key_count) -- map-side partial counts make COUNT
    skew-immune (a reducer receives at most one partial row per map task
    per key), so no count needs salting; salting is for aggregation state
    that is not constant-size (collect_list of a hot key) and skewed join
    keys;
  * every key family is capped at ``max_block_size`` members -- an
    oversized block both explodes pair count quadratically and marks a
    non-discriminative key (a token with DF > cap cannot identify an
    entity), so it is dropped, mirroring stopword removal at a corpus level;
  * pair generation is a self-equi-join on the capped key, repartitioned by
    key, with ``url_a < url_b`` and a distinct on the pair -- AQE skew-join
    splits any residual imbalance.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crocodile_spark.config import PipelineConfig
from crocodile_spark.functions.normalize import char_ngrams


def key_count(df: DataFrame, key: str) -> DataFrame:
    """Per-key count; partial aggregation makes this skew-immune."""
    return df.groupBy(key).agg(F.count(F.lit(1)).alias("count"))


def mention_df_threshold(cfg: PipelineConfig, n_records: int) -> int:
    """Distinctive-token DF cutoff: the RELATIVE law max(floor, ceil(frac*N)).

    Deliberately not clamped by ``max_block_size`` (the r4 law): at 529k
    synthetic records the clamp dropped 2-syllable name tokens (DF ~ 70 >
    64) from SCORING signatures, same-entity similarity collapsed, and
    pairwise F1 fell to 0.9844. The two concerns the clamp conflated are
    each guarded where they belong: quadratic pair blowup by ``cap_blocks``
    (oversized tok: blocks never reach the pair join) and signature width
    by the per-record ``sig_max_tokens``-rarest truncation in
    ``mention_signatures``. This cutoff only removes corpus-level stopwords
    (tokens in more than frac of all records), which carry no entity signal
    at any scale."""
    import math

    rel = math.ceil(cfg.mention_df_fraction * n_records)
    return max(cfg.mention_df_floor, rel)


def token_document_frequencies(records: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """(token, df) for every token passing the length floor -- the ONE
    corpus-level aggregate the signature law depends on. Exposed so an
    incremental resolution can persist it with the resolution state and
    merge delta counts instead of re-aggregating the union
    (incremental_er.incremental_signatures); the batch path and the state
    builder MUST share this aggregation or the merge law drifts. tokens
    arrays are distinct per record (F4 set semantics), so the count is a
    true document frequency."""
    tok = (
        records.select("url", F.explode("tokens").alias("token"))
        .where(F.length("token") >= cfg.min_token_length)
    )
    return key_count(tok, "token").select("token", F.col("count").alias("df"))


def distinctive_tokens(
    records: DataFrame, cfg: PipelineConfig, n_records: int | None = None
) -> DataFrame:
    """(url, token, df) rows for tokens with document frequency <= threshold.

    DF-capping is the corpus-level generalization of stopword removal:
    frequent tokens carry no entity signal and only widen blocks. The
    count is the stage's one driver-side scalar (a metric, not data).
    The df column lets the caller rank tokens by rarity.
    """
    if n_records is None:
        n_records = records.count()
    cutoff = mention_df_threshold(cfg, n_records)
    tok = (
        records.select("url", F.explode("tokens").alias("token"))
        .where(F.length("token") >= cfg.min_token_length)
    )
    rare = token_document_frequencies(records, cfg).where(F.col("df") <= cutoff)
    return tok.join(rare, "token", "inner").select("url", "token", "df")


def mention_signatures(
    records: DataFrame, cfg: PipelineConfig, n_records: int | None = None
) -> DataFrame:
    """Per-record mention signature: the ``sig_max_tokens`` RAREST
    distinctive tokens (sorted) + mention_norm.

    ``n_records`` is the row count of ``records`` when the caller already
    holds it (``run_pipeline`` takes it from the records stage); given, it
    spares :func:`distinctive_tokens` its count job. ``None`` counts.

    Reads ``url``, ``tokens`` and ``text_norm`` from ``records``: the
    signature table also carries ``mh_bands``, the record's MinHash band
    keys over ``text_norm`` shingles (see :func:`signatures_from_distinctive`).

    This is the engine's analog of crocodile's normalized mention (F1 law,
    crocodile/processors.py:134): the string key under which candidate sets
    are shared (J5). Records with no distinctive token get an empty
    signature (left join keeps them).

    The k-rarest truncation is what bounds signature width at web scale
    (the DF cutoff is relative, so it admits tokens with DF up to frac*N):
    rows are collected as (df, token) structs, array_sort orders them
    rarest-first with a deterministic token tie-break, slice keeps k, and
    the final array_sort restores the canonical token ordering the scoring
    features (token_jaccard, mention_norm concat) expect. One aggregation,
    no window shuffle; per-record state is bounded by the record's own
    token count.

    ``block_tokens`` (computed in the same aggregation -- zero extra
    shuffle) is what the ``tok:`` blocking-key family keys on: the
    ``block_max_tokens`` RAREST among all block-eligible distinctive
    tokens (df <= max_block_size). The budget is DECOUPLED from
    ``sig_max_tokens`` (ADVICE r5/r6): under the old eligible-subset-of-
    k-rarest law, a shared token outranked by k unshared rarer tokens on
    BOTH records silently lost the pair unless host/MinHash compensated.
    At 10^12 docs the df pre-filter still keeps unboundedly hot keys out
    of the shuffle (a DF-10^9 token would shuffle 10^9 (url, key) rows
    only to be capped), deliberately slightly CONSERVATIVE vs cap_blocks,
    which caps on block MEMBERSHIP. Scoring still sees the full
    ``sig_tokens`` (the 529k F1 lesson: the block cap must never silence
    scoring evidence)."""
    return signatures_from_distinctive(
        records, distinctive_tokens(records, cfg, n_records), cfg
    )


def signatures_from_distinctive(
    records: DataFrame, dist: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """The signature aggregation law over prepared (url, token, df) rows.

    Reads ``url``, ``text_norm`` and the columns the caller carries on
    ``records``; adds ``sig_tokens``, ``block_tokens``, ``mh_bands`` (the
    record's :func:`minhash_bands`, empty when its text has no shingle)
    and ``mention_norm``.

    Factored out of :func:`mention_signatures` so the incremental path
    (incremental_er.incremental_signatures) applies the IDENTICAL law to
    its rebuild-scoped distinctive rows -- byte-identical signatures are
    the equivalence contract between the two paths."""
    by_rarity, sig_cols, fill = _signature_columns(
        cfg.sig_max_tokens, cfg.max_block_size, cfg.block_max_tokens
    )
    sig = dist.groupBy("url").agg(by_rarity).select("url", *sig_cols)
    return (
        records.join(sig, "url", "left")
        .join(minhash_bands(records, cfg), "url", "left")
        .withColumns(dict(fill))
    )


@functools.cache
def _signature_columns(
    sig_max_tokens: int, max_block_size: int, block_max_tokens: int
) -> tuple[Column, tuple[Column, ...], tuple[tuple[str, Column], ...]]:
    """The signature law's columns, built once per process: the per-url
    rarity aggregate, the two token slices over it, and the fill of records
    without a distinctive token or a shingle."""
    by_rarity = F.array_sort(F.collect_set(F.struct("df", "token"))).alias("_by_rarity")
    sig_tokens = F.array_sort(
        F.transform(F.slice("_by_rarity", 1, sig_max_tokens), lambda s: s["token"])
    ).alias("sig_tokens")
    block_tokens = F.array_sort(
        F.transform(
            F.slice(
                F.filter("_by_rarity", lambda s: s["df"] <= F.lit(max_block_size)),
                1,
                block_max_tokens,
            ),
            lambda s: s["token"],
        )
    ).alias("block_tokens")
    empty = F.array().cast("array<string>")
    filled = F.coalesce(F.col("sig_tokens"), empty)
    fill = (
        ("sig_tokens", filled),
        ("block_tokens", F.coalesce(F.col("block_tokens"), empty)),
        ("mh_bands", F.coalesce(F.col("mh_bands"), empty)),
        ("mention_norm", F.concat_ws(" ", filled)),
    )
    return by_rarity, (sig_tokens, block_tokens), fill


def minhash_bands(records: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """(url, mh_bands): the record's MinHash LSH band keys over the
    char-``shingle_size``-grams of ``text_norm`` (:func:`minhash_band_keys`
    with the pipeline's MinHash fields). Records with no shingle get no
    row."""
    k, bsz, n = cfg.minhash_num_hashes, cfg.minhash_band_size, cfg.shingle_size
    return minhash_band_keys(records, "url", "text_norm", k, bsz, n)


def portable_hash64(col, seed: int):
    """Portable 60-bit hash, identical in Spark and DuckDB:

      Spark : conv(substr(md5('<seed>:' || x), 1, 15), 16, 10)::long
      DuckDB: CAST(('0x' || substr(md5('<seed>:' || x), 1, 15)) AS BIGINT)

    Non-negative (< 2^60), so shift/mask/bit ops are sign-safe. The
    xxhash64 fast path stays the production default; this exists so the
    driver's DuckDB oracle can verify the ACTUAL minhash/simhash pairs
    instead of a rows-only count.
    """
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 15), 16, 10
    ).cast("long")


def minhash_affine_constants(num_hashes: int, seed: int = 1234) -> list[tuple[int, int]]:
    """Seeded odd (A_i, B_i) < 2^29 pairs for the portable minhash family
    h_i = hi*A_i + lo*B_i; shared with the DuckDB oracle generator."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, 1 << 29) | 1, rng.randrange(1, 1 << 29) | 1)
        for _ in range(num_hashes)
    ]


def minhash_band_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    band_size: int,
    shingle_size: int,
    portable: bool = False,
) -> DataFrame:
    """(id_col, mh_bands): the MinHash LSH band law of ER blocking and
    near-dup dedup. ``mh_bands`` holds one key ``mh<b>:<hash(band)>`` per
    band of ``band_size`` of the ``num_hashes`` slots, each slot the
    ``min`` hash over the char-``shingle_size``-grams of ``text_col``.
    Rows whose text has no shingle (NULL, empty, shorter than a shingle)
    get no row.

    Explode -> aggregate: shingles are exploded once and each hash slot is
    a plain ``min`` aggregate (map-side partial aggregation applies), so
    the plan carries k tiny expressions instead of k inlined copies of the
    shingle generator. The per-row form
    ``array_min(transform(shingles, xxhash64))`` is an interpreted
    higher-order function and was 2.8-4.9x slower on ~480-char texts
    (BENCH.md, "One-pass blocking keys").

    ``portable=True`` switches the slot and band hashes to the md5 law of
    :func:`portable_hash64`, so a DuckDB oracle reproduces the buckets
    bit-for-bit: one md5 base per shingle, then k affine derivations
    ``hi*A_i + lo*B_i`` over its 30-bit halves (< 2^60, no overflow under
    ANSI). The halves are projected as columns before the aggregation: as
    inline expressions inside the k ``min`` aggregates each slot re-derived
    the md5 base (no cross-aggregate subexpression elimination; measured
    3.3 s -> 1.3 s for the signature aggregation at sf0.1).
    """
    shingles, halves, mins, bands = _minhash_columns(
        text_col, num_hashes, band_size, shingle_size, portable
    )
    sh = df.select(id_col, shingles).select(id_col, *halves)
    return sh.groupBy(id_col).agg(*mins).select(id_col, bands)


@functools.cache
def _minhash_columns(
    text_col: str, k: int, bsz: int, shingle_size: int, portable: bool
) -> tuple[Column, tuple[Column, ...], tuple[Column, ...], Column]:
    """(shingle explode, the projection the k slots read, the k ``min``
    hash slots, the band-key array) of :func:`minhash_band_keys`, built
    once per process."""
    shingles = F.explode(char_ngrams(F.col(text_col), shingle_size)).alias("sh")
    if portable:
        base = portable_hash64(F.col("sh"), 0)
        halves = (
            F.shiftright(base, 30).alias("_hi"),
            base.bitwiseAND(F.lit((1 << 30) - 1)).alias("_lo"),
        )
        hashes = [
            F.col("_hi") * a + F.col("_lo") * b
            for a, b in minhash_affine_constants(k)
        ]
    else:
        halves = (F.col("sh"),)
        hashes = [F.xxhash64("sh", F.lit(i)) for i in range(k)]
    mins = tuple(F.min(h).alias(f"mh{i}") for i, h in enumerate(hashes))

    def band_hash(c: Column) -> Column:
        return F.substring(F.md5(c), 1, 16) if portable else F.xxhash64(c).cast("string")

    bands = [
        F.concat(
            F.lit(f"mh{b}:"),
            band_hash(
                F.concat_ws(
                    "_", *[F.col(f"mh{b * bsz + j}").cast("string") for j in range(bsz)]
                )
            ),
        )
        for b in range(k // bsz)
    ]
    return shingles, halves, mins, F.array(*bands).alias("mh_bands")


@functools.cache
def _key_column(families: tuple[str, ...]) -> Column:
    """``explode`` of the named key families (``tok``, ``host``, ``mh``)
    as one ``key`` column, built once per process."""
    host = F.col("host")
    arrays = {
        "tok": F.transform(F.col("block_tokens"), lambda t: F.concat(F.lit("tok:"), t)),
        "host": F.when(
            host.isNotNull() & (F.length(host) > 0),
            F.array(F.concat(F.lit("host:"), host)),
        ).otherwise(F.array().cast("array<string>")),
        "mh": F.col("mh_bands"),
    }
    return F.explode(F.concat(*[arrays[f] for f in families])).alias("key")


def _explode_keys(sigs: DataFrame, *families: str) -> DataFrame:
    return sigs.select("url", _key_column(families))


def token_keys(sigs: DataFrame) -> DataFrame:
    """The corpus-DF-dependent key family: ``tok:`` keys from
    ``block_tokens`` (cap-eligible distinctive tokens). This is the only
    family whose keys change as the corpus grows (document frequencies
    move under the relative cutoff) -- incremental resolution must
    recompute it over the union, while :func:`static_keys` can be stored."""
    return _explode_keys(sigs, "tok")


def static_keys(sigs: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """The per-record STATIC key families: host + MinHash bands (the
    signature table's ``mh_bands``). Neither depends on any corpus-level
    statistic, so a record's static keys never change once computed -- an
    incremental resolution stores them with the resolution state."""
    return _explode_keys(sigs, "host", "mh")


def blocking_keys(sigs: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """The tok/host/MinHash key families as (url, key) rows, from one
    projection and one explode over the signature table."""
    # each family emits unique (url, key) rows by construction (block_tokens
    # is a set; host is one key; band index is in the key prefix), so no
    # dedup shuffle is needed here. Exact-duplicate groups (F3 row hash)
    # are NOT a key family: they are handled linearly by exact_dup_pairs.
    return _explode_keys(sigs, "tok", "host", "mh")


def cap_keys(keys: DataFrame, max_size: int) -> DataFrame:
    """The key-cap law of every bucket family (ER blocking keys, near-dup
    and ANN buckets): drop every ``key`` that has more than ``max_size``
    rows in ``keys``. An oversized key is dropped whole: it marks
    non-discriminative content, and its pair volume would be quadratic."""
    ok = key_count(keys, "key").where(F.col("count") <= max_size).select("key")
    return keys.join(ok, "key", "inner")


def cap_blocks(keys: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Drop blocking keys whose member count exceeds ``max_block_size``."""
    return cap_keys(keys, cfg.max_block_size)


def capped_buckets(buckets: DataFrame, max_bucket_size: int) -> DataFrame:
    """The dedup/ANN bucket step: :func:`cap_keys` over (id..., key) rows,
    materialized first with the layer's one eager ``localCheckpoint``.

    The rows feed three consumers (the key count and both sides of the
    bucket join), and Spark re-derives a DataFrame lineage per consumer:
    unmaterialized, the whole signature pipeline (shingle + hash, the
    SimHash fold, the hyperplane kernel) would run ~3x (measured 23 s ->
    5.3 s for MinHash at sf0.1). Bucket rows are a few short keys per
    document, so materializing them is the standard LSH shape at any
    scale; ``localCheckpoint`` is executor-local and not kill-resumable."""
    return cap_keys(buckets.localCheckpoint(eager=True), max_bucket_size)


def generate_pairs(
    capped_keys: DataFrame, cfg: PipelineConfig, distinct: bool = True
) -> DataFrame:
    """Self-join per key -> distinct unordered candidate pairs.

    The equi-join itself hash-partitions both sides by key (no explicit
    repartition needed); url_a < url_b halves the cross product and fixes
    pair orientation (deterministic output); the final distinct collapses
    pairs that co-occur under several keys (callers that union further
    pair sources pass distinct=False and dedup once at the end).
    """
    left = capped_keys
    right = capped_keys.withColumnRenamed("url", "url_b")
    pairs = (
        left.withColumnRenamed("url", "url_a")
        .join(right, "key", "inner")
        .where(F.col("url_a") < F.col("url_b"))
        .select("url_a", "url_b")
    )
    return pairs.distinct() if distinct else pairs


def exact_dup_pairs(records: DataFrame) -> DataFrame:
    """Exact-duplicate pairs via the F3 row hash -- LINEAR star edges.

    Identical texts are certain matches: enumerating their C(n,2) pairs is
    quadratic waste and a block cap would wrongly drop giant duplicate
    groups (the web is full of them). Instead each hash group emits
    (min url -> member) star edges: n-1 edges, transitively equivalent
    under connected components.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("row_hash")
    m = records.select("row_hash", "url").withColumn("root", F.min("url").over(w))
    return m.where(F.col("url") != F.col("root")).select(
        F.col("root").alias("url_a"), F.col("url").alias("url_b")
    )


def pairs_from_signatures(sigs: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Candidate pairs from a signature table (carries url/host/row_hash/
    text_norm/sig_tokens): capped key blocks + linear exact-dup stars,
    deduplicated once."""
    keys = blocking_keys(sigs, cfg)
    capped = cap_blocks(keys, cfg)
    pairs = generate_pairs(capped, cfg, distinct=False)
    return pairs.union(exact_dup_pairs(sigs)).dropDuplicates(["url_a", "url_b"])


# logical-plan node names that imply the frame's width already comes from a
# shuffle (Distinct rewrites to Aggregate in the optimized plan but is kept
# for safety); Repartition*/Rebalance* are matched by prefix below
_SHUFFLE_NODE_NAMES = frozenset(
    {"Join", "Aggregate", "Window", "Sort", "Distinct", "Deduplicate",
     "DeduplicateWithinWatermark", "Intersect", "Except"}
)

# spread() leaves scans estimated below this many bytes narrow: widening
# them only buys mostly-empty tasks
SPREAD_MIN_BYTES = 64 << 10


def _plan_probe(df: DataFrame) -> tuple[bool, int]:
    """(has_shuffle_node, estimated_size_bytes) from the OPTIMIZED logical
    plan, walked node-by-node via ``nodeName()`` -- never substring-matched
    against the plan string (a column literally named "sort_Distinct" must
    not trip the guard, ADVICE r3) and never executed. Uses the JVM plan
    handle (`_jdf`), which is not public API: any drift raises and the
    caller falls back to returning the frame untouched."""
    plan = df._jdf.queryExecution().optimizedPlan()
    stack = [plan]
    try:
        # scalar subqueries survive optimization as EXPRESSIONS (IN/EXISTS
        # are rewritten to joins), so a shuffle can hide outside children();
        # subqueriesAll() exposes every subquery plan in the tree
        sq = plan.subqueriesAll()
        for i in range(sq.size()):
            stack.append(sq.apply(i))
    except Exception:
        pass  # older API: children-only walk still covers rewritten plans
    found = False
    while stack and not found:
        node = stack.pop()
        name = node.nodeName()
        if name in _SHUFFLE_NODE_NAMES or name.startswith(
            ("Repartition", "Rebalance")
        ):
            found = True
            break
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    size = int(str(plan.stats().sizeInBytes()))
    return found, size


def spread(df: DataFrame, downstream_heavy: bool = False) -> DataFrame:
    """Width guard for per-row-heavy stages (hash signatures, HOF dot
    products, array Jaccard, Arrow UDF projections): a single-file local
    scan arrives as 1 partition and AQE coalesces small-BYTES/heavy-CPU
    shuffle outputs to 1 task, serializing the expensive expression on one
    core. Repartition up to the session's parallelism when narrower. At
    production scale inputs are already wide (many files / many shuffle
    partitions with real bytes), so this is a no-op there.

    Inputs whose plan already contains a shuffle-producing operator are
    returned untouched WITHOUT inspecting partitions: under AQE,
    ``df.rdd`` finalizes the adaptive plan by actually executing upstream
    query stages, so probing the width of a derived frame would run its
    joins/aggregations twice. Those frames got their width from the
    shuffle anyway; only scan-shaped inputs need the guard.

    r4 hardening (VERDICT #7 / ADVICE): the probe walks plan node TYPES
    (no substring matching), frames whose estimated plan size is below
    :data:`SPREAD_MIN_BYTES` (unknown sizes pass) are left alone, and the
    repartition target is capped by the cluster's defaultParallelism so a
    200-partition shuffle default cannot fan a tiny scan into mostly-empty
    tasks.

    r5 (ADVICE r4): the byte floor reasons about INPUT size, but for
    super-linear downstream work (a crossJoin sweep: O(rows_left x
    rows_right) cosines) a sub-64KiB single-partition scan is exactly
    where quadratic work serializes on one core. Callers feeding such
    plans pass ``downstream_heavy=True`` to skip the floor -- the caller,
    not the input bytes, knows the downstream cost shape."""
    sess = df.sparkSession
    try:
        has_shuffle, size_bytes = _plan_probe(df)
    except Exception:
        return df  # benign fallback: private-API drift must not break callers
    if has_shuffle:
        return df
    if not downstream_heavy and 0 <= size_bytes < SPREAD_MIN_BYTES:
        return df
    target = min(
        int(sess.conf.get("spark.sql.shuffle.partitions")),
        sess.sparkContext.defaultParallelism,
    )
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
