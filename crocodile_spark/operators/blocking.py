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

from pyspark.sql import DataFrame
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
    sig = (
        dist.groupBy("url")
        .agg(
            F.array_sort(F.collect_set(F.struct("df", "token"))).alias("_by_rarity")
        )
        .select(
            "url",
            F.array_sort(
                F.transform(
                    F.slice("_by_rarity", 1, cfg.sig_max_tokens),
                    lambda s: s["token"],
                )
            ).alias("sig_tokens"),
            F.array_sort(
                F.transform(
                    F.slice(
                        F.filter(
                            "_by_rarity",
                            lambda s: s["df"] <= F.lit(cfg.max_block_size),
                        ),
                        1,
                        cfg.block_max_tokens,
                    ),
                    lambda s: s["token"],
                )
            ).alias("block_tokens"),
        )
    )
    empty = F.array().cast("array<string>")
    return (
        records.join(sig, "url", "left")
        .join(minhash_bands(records, cfg), "url", "left")
        .withColumn("sig_tokens", F.coalesce(F.col("sig_tokens"), empty))
        .withColumn("block_tokens", F.coalesce(F.col("block_tokens"), empty))
        .withColumn("mh_bands", F.coalesce(F.col("mh_bands"), empty))
        .withColumn("mention_norm", F.concat_ws(" ", F.col("sig_tokens")))
    )


def minhash_bands(records: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """(url, mh_bands): the MinHash LSH band keys ``mh<b>:<hash(band)>``
    over the char-``shingle_size``-grams of ``text_norm``, one array per
    record. Records with no shingle get no row.

    Explode -> aggregate: shingles are exploded once and each of the k
    hash slots is a plain ``min`` aggregate (map-side partial aggregation
    applies), so the plan carries k tiny expressions instead of k inlined
    copies of the shingle generator. The per-row form
    ``array_min(transform(shingles, xxhash64))`` is an interpreted
    higher-order function and was 2.8-4.9x slower on ~480-char texts
    (BENCH.md, "One-pass blocking keys").
    """
    k, bsz = cfg.minhash_num_hashes, cfg.minhash_band_size
    sh = records.select(
        "url", F.explode(char_ngrams(F.col("text_norm"), cfg.shingle_size)).alias("sh")
    )
    sig = sh.groupBy("url").agg(
        *[F.min(F.xxhash64("sh", F.lit(i))).alias(f"mh{i}") for i in range(k)]
    )
    bands = [
        F.concat(
            F.lit(f"mh{b}:"),
            F.xxhash64(
                F.concat_ws(
                    "_", *[F.col(f"mh{b * bsz + j}").cast("string") for j in range(bsz)]
                )
            ).cast("string"),
        )
        for b in range(k // bsz)
    ]
    return sig.select("url", F.array(*bands).alias("mh_bands"))


def _token_key_array():
    return F.transform(F.col("block_tokens"), lambda t: F.concat(F.lit("tok:"), t))


def _host_key_array():
    host = F.col("host")
    return F.when(
        host.isNotNull() & (F.length(host) > 0),
        F.array(F.concat(F.lit("host:"), host)),
    ).otherwise(F.array().cast("array<string>"))


def _explode_keys(sigs: DataFrame, *families) -> DataFrame:
    return sigs.select("url", F.explode(F.concat(*families)).alias("key"))


def token_keys(sigs: DataFrame) -> DataFrame:
    """The corpus-DF-dependent key family: ``tok:`` keys from
    ``block_tokens`` (cap-eligible distinctive tokens). This is the only
    family whose keys change as the corpus grows (document frequencies
    move under the relative cutoff) -- incremental resolution must
    recompute it over the union, while :func:`static_keys` can be stored."""
    return _explode_keys(sigs, _token_key_array())


def static_keys(sigs: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """The per-record STATIC key families: host + MinHash bands (the
    signature table's ``mh_bands``). Neither depends on any corpus-level
    statistic, so a record's static keys never change once computed -- an
    incremental resolution stores them with the resolution state."""
    return _explode_keys(sigs, _host_key_array(), F.col("mh_bands"))


def blocking_keys(sigs: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """The tok/host/MinHash key families as (url, key) rows, from one
    projection and one explode over the signature table."""
    # each family emits unique (url, key) rows by construction (block_tokens
    # is a set; host is one key; band index is in the key prefix), so no
    # dedup shuffle is needed here. Exact-duplicate groups (F3 row hash)
    # are NOT a key family: they are handled linearly by exact_dup_pairs.
    return _explode_keys(
        sigs, _token_key_array(), _host_key_array(), F.col("mh_bands")
    )


def cap_blocks(keys: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Drop keys whose member count exceeds the block cap."""
    sizes = key_count(keys, "key")
    ok = sizes.where(F.col("count") <= cfg.max_block_size).select("key")
    return keys.join(ok, "key", "inner")


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


def block(records: DataFrame, cfg: PipelineConfig) -> tuple[DataFrame, DataFrame]:
    """Full stage 2: returns (signatures, candidate_pairs)."""
    sigs = mention_signatures(records, cfg)
    return sigs, pairs_from_signatures(sigs, cfg)


# logical-plan node names that imply the frame's width already comes from a
# shuffle (Distinct rewrites to Aggregate in the optimized plan but is kept
# for safety); Repartition*/Rebalance* are matched by prefix below
_SHUFFLE_NODE_NAMES = frozenset(
    {"Join", "Aggregate", "Window", "Sort", "Distinct", "Deduplicate",
     "DeduplicateWithinWatermark", "Intersect", "Except"}
)


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


def spread(
    df: DataFrame,
    min_partitions: int | None = None,
    downstream_heavy: bool = False,
) -> DataFrame:
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
    (no substring matching), ``spark.croco.spread.enabled=false`` disables
    the guard entirely, frames whose estimated plan size is below
    ``spark.croco.spread.minBytes`` (default 64 KiB; unknown sizes pass)
    are left alone, and the repartition target is capped by the cluster's
    defaultParallelism so a 200-partition shuffle default cannot fan a
    tiny scan into mostly-empty tasks.

    r5 (ADVICE r4): the byte floor reasons about INPUT size, but for
    super-linear downstream work (a crossJoin sweep: O(rows_left x
    rows_right) cosines) a sub-64KiB single-partition scan is exactly
    where quadratic work serializes on one core. Callers feeding such
    plans pass ``downstream_heavy=True`` to skip the floor -- the caller,
    not the input bytes, knows the downstream cost shape. The
    ``spark.croco.spread.minBytes=0`` escape hatch remains for config-only
    control."""
    sess = df.sparkSession
    if str(sess.conf.get("spark.croco.spread.enabled", "true")).lower() != "true":
        return df
    try:
        has_shuffle, size_bytes = _plan_probe(df)
    except Exception:
        return df  # benign fallback: private-API drift must not break callers
    if has_shuffle:
        return df
    min_bytes = int(sess.conf.get("spark.croco.spread.minBytes", "65536"))
    if not downstream_heavy and 0 <= size_bytes < min_bytes:
        return df
    target = min_partitions or min(
        int(sess.conf.get("spark.sql.shuffle.partitions")),
        sess.sparkContext.defaultParallelism,
    )
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
