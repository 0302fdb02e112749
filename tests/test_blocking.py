"""Blocking stage tests: block cap, key families, pair generation
determinism."""

from __future__ import annotations

from pyspark.sql import functions as F

from crocodile_spark.config import PipelineConfig
from crocodile_spark.operators.blocking import (
    cap_blocks,
    generate_pairs,
    mention_signatures,
    minhash_bands,
    pairs_from_signatures,
)
from crocodile_spark.operators.normalize_stage import normalize_pages


def test_cap_blocks_drops_oversized(spark):
    cfg = PipelineConfig(max_block_size=4)
    rows = [("hot", f"u{i}") for i in range(10)] + [("cold", "a"), ("cold", "b")]
    keys = spark.createDataFrame(rows, ["key", "url"])
    got = cap_blocks(keys, cfg).select("key").distinct().collect()
    assert {r["key"] for r in got} == {"cold"}


def test_generate_pairs_orientation_and_dedup(spark):
    cfg = PipelineConfig()
    keys = spark.createDataFrame(
        [("k", "b"), ("k", "a"), ("k", "c"), ("j", "a"), ("j", "b")],
        ["key", "url"],
    )
    pairs = generate_pairs(keys, cfg).collect()
    got = {(r["url_a"], r["url_b"]) for r in pairs}
    # a<b ordering, (a,b) appears once despite two shared keys
    assert got == {("a", "b"), ("a", "c"), ("b", "c")}


def test_minhash_identical_strings_share_signature(spark):
    records = spark.createDataFrame(
        [("a", "same text here"), ("b", "same text here"), ("c", "other wording entirely")],
        ["url", "text_norm"],
    )
    cfg = PipelineConfig(minhash_num_hashes=8, minhash_band_size=1)
    bands = {r["url"]: r["mh_bands"] for r in minhash_bands(records, cfg).collect()}
    assert bands["a"] == bands["b"]
    assert bands["a"] != bands["c"]
    assert len(bands["a"]) == 8


def test_block_stage_recall_on_corpus(spark, corpus_dfs):
    """Every same-entity page pair should share at least one block key
    (recall of the blocking stage on the planted clusters)."""
    wp, _, gold = corpus_dfs
    cfg = PipelineConfig()
    records = normalize_pages(wp, use_html=True)
    sigs = mention_signatures(records, cfg)
    pairs = pairs_from_signatures(sigs, cfg)
    pos = gold.where(F.col("label") == 1)
    covered = pos.join(pairs, ["url_a", "url_b"], "left_semi").count()
    total = pos.count()
    assert covered / total > 0.95, f"blocking recall {covered}/{total}"


# ---- spread() width guard (r4 hardening: VERDICT #7 / ADVICE r3) ----------


def test_spread_derived_frame_untouched_without_jobs(spark, tmp_path):
    """A shuffle-bearing (derived) frame must be returned AS-IS without
    triggering any Spark job: under AQE, probing its width would execute
    the upstream stages twice."""
    from crocodile_spark.operators.blocking import spread

    df = (
        spark.range(0, 10000, 1, 4)
        .selectExpr("id % 7 AS k", "id AS v")
        .groupBy("k")
        .agg(F.sum("v").alias("s"))
    )
    spark.sparkContext.setJobGroup("spread-probe", "spread must not run jobs")
    try:
        out = spread(df)
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup("spread-probe")
    finally:
        spark.sparkContext.setJobGroup(None, None)
    assert out is df, "derived frame must be returned untouched"
    assert list(jobs) == [], f"spread() ran jobs on a derived frame: {jobs}"


def test_spread_not_fooled_by_operator_like_column_name(spark, tmp_path):
    """The old substring heuristic skipped the guard when a COLUMN was
    named like an operator ('sort_Distinct'); the node-type walk must
    still widen such a scan."""
    from crocodile_spark.operators.blocking import spread

    p = str(tmp_path / "wide.parquet")
    spark.range(0, 50000, 1, 32).selectExpr(
        "id", "repeat('x', 64) AS payload"
    ).coalesce(1).write.parquet(p)
    scan = spark.read.parquet(p).select(
        F.col("id").alias("sort_Distinct"), "payload"
    )
    assert scan.rdd.getNumPartitions() == 1
    out = spread(scan)
    assert out.rdd.getNumPartitions() > 1, "scan with operator-like column name not widened"


def test_spread_tiny_scan_stays_narrow(spark, tmp_path):
    """Frames below the byte floor stay narrow (no mostly-empty tasks);
    a single-partition scan above it is widened."""
    from crocodile_spark.operators.blocking import spread

    p = str(tmp_path / "tiny.parquet")
    spark.range(10).coalesce(1).write.parquet(p)
    tiny = spark.read.parquet(p)
    assert spread(tiny) is tiny, "tiny scan must not be repartitioned"

    big = str(tmp_path / "big.parquet")
    spark.range(0, 50000, 1, 1).selectExpr(
        "id", "repeat('y', 64) AS payload"
    ).write.parquet(big)
    scan = spark.read.parquet(big)
    assert spread(scan).rdd.getNumPartitions() > 1


def test_spread_downstream_heavy_overrides_byte_floor(spark, tmp_path):
    """ADVICE r4: callers feeding super-linear plans (crossJoin sweeps)
    declare downstream_heavy=True -- a sub-64KiB single-partition scan is
    exactly where quadratic work would serialize on one core, so the byte
    floor must NOT apply there."""
    from crocodile_spark.operators.blocking import spread

    p = str(tmp_path / "tiny2.parquet")
    spark.range(10).coalesce(1).write.parquet(p)
    tiny = spark.read.parquet(p)
    assert spread(tiny) is tiny  # floor applies on the default path
    assert spread(tiny, downstream_heavy=True).rdd.getNumPartitions() > 1


def test_token_rich_records_keep_recall_under_sig_truncation(spark):
    """ADVICE r5/r6 (blocking.py block_tokens law): block_tokens is now
    budgeted by block_max_tokens over ALL block-eligible distinctive
    tokens, decoupled from the sig_max_tokens signature slice. Pin BOTH
    halves: (1) entity tokens displaced from the k=4 signature slice by
    df=1 fillers STILL emit tok: keys (the old eligible-subset-of-k-rarest
    law dropped them), and (2) same-entity pair recall is 1.0 via the
    tok: family itself -- hosts and filler texts differ per page, so
    neither the host nor the MinHash family can compensate here."""
    rows = []
    for e in range(3):
        ent = f"ent{e}a ent{e}b ent{e}c"  # df=3 each, distinctive (cutoff 3)
        for p in range(3):
            fillers = " ".join(f"u{e}{p}f{j}" for j in range(10))  # df=1 each
            rows.append(
                # DIFFERENT host per page: the host family cannot pair them
                (f"http://h{e}x{p}.example.com/p{p}", f"{ent} {fillers}")
            )
    wp = spark.createDataFrame(rows, ["url", "text"])
    cfg = PipelineConfig(sig_max_tokens=4)
    records = normalize_pages(wp, use_html=False)
    sigs = mention_signatures(records, cfg)
    pairs = pairs_from_signatures(sigs, cfg)

    sig_rows = sigs.select("url", "sig_tokens", "block_tokens").collect()
    for r in sig_rows:
        # the signature slice still truncates at k=4 (df=1 fillers win)...
        assert len(r["sig_tokens"]) == cfg.sig_max_tokens
        assert all(t.startswith("u") for t in r["sig_tokens"]), r
        # ...but block_tokens keeps every eligible token incl. the shared
        # entity tokens (13 eligible < block_max_tokens budget)
        assert len(r["block_tokens"]) == 13, r
        assert sum(t.startswith("ent") for t in r["block_tokens"]) == 3, r
    # recall: every same-entity pair shares a tok: block -- the ONLY
    # family that can produce these pairs on this fixture
    from itertools import combinations

    want = {
        tuple(sorted(p))
        for e in range(3)
        for p in combinations(
            [f"http://h{e}x{p}.example.com/p{p}" for p in range(3)], 2
        )
    }
    got = {
        (r["url_a"], r["url_b"])
        for r in pairs.collect()
    }
    assert want <= got, want - got
    # and the budget really truncates: past block_max_tokens eligible
    # tokens the rarest win
    tight = PipelineConfig(sig_max_tokens=4, block_max_tokens=5)
    sigs2 = mention_signatures(records, tight)
    for r in sigs2.select("block_tokens").collect():
        assert len(r["block_tokens"]) == 5


# ---- one-projection key families vs the per-family union law -------------


def _union_law_keys(sigs, cfg):
    """Reference key law: ``tok:`` rows, host rows and explode -> aggregate
    MinHash band rows, each family from its own scan of ``sigs`` (bands
    re-derived from ``text_norm``), unioned. Returns (all keys, static)."""
    from crocodile_spark.functions.normalize import char_ngrams

    tok = sigs.select(
        "url",
        F.explode(
            F.transform(F.col("block_tokens"), lambda t: F.concat(F.lit("tok:"), t))
        ).alias("key"),
    )
    host = sigs.where(F.col("host").isNotNull() & (F.length("host") > 0)).select(
        "url", F.concat(F.lit("host:"), F.col("host")).alias("key")
    )
    k, bsz = cfg.minhash_num_hashes, cfg.minhash_band_size
    sh = sigs.select(
        "url", F.explode(char_ngrams(F.col("text_norm"), cfg.shingle_size)).alias("sh")
    )
    mins = sh.groupBy("url").agg(
        *[F.min(F.xxhash64("sh", F.lit(i))).alias(f"mh{i}") for i in range(k)]
    )
    bands = mins.select(
        "url",
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"mh{b}:"),
                        F.xxhash64(
                            F.concat_ws(
                                "_",
                                *[
                                    F.col(f"mh{b * bsz + j}").cast("string")
                                    for j in range(bsz)
                                ],
                            )
                        ).cast("string"),
                    )
                    for b in range(k // bsz)
                ]
            )
        ).alias("key"),
    )
    static = host.union(bands)
    return tok.union(static), static


def _key_rows(keys):
    return sorted((r["url"], r["key"]) for r in keys.collect())


def _pair_digest(pairs):
    r = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("url_a", "url_b")).alias("h"),
    ).first()
    return int(r["n"]), int(r["h"] or 0)


def test_one_projection_keys_equal_union_law(spark, corpus_dfs):
    """blocking_keys / static_keys (one explode over the signature table's
    block_tokens, host and mh_bands) emit exactly the (url, key) rows of
    the per-family union law, and pairs_from_signatures yields the same
    pair set, on the datagen corpus plus dirty rows: NULL and empty host,
    NULL and empty text, text shorter than a shingle, exact duplicates."""
    from crocodile_spark.functions.normalize import row_hash, tokenize
    from crocodile_spark.operators.blocking import (
        blocking_keys,
        exact_dup_pairs,
        mention_signatures,
        pairs_from_signatures,
        static_keys,
    )

    cols = ["url", "host", "text_norm", "tokens", "row_hash"]
    corpus = normalize_pages(corpus_dfs[0], use_html=True).select(*cols)
    dup_text = corpus.orderBy("url").first()["text_norm"]
    dirty = spark.createDataFrame(
        [
            ("dirty://a/null-host", None, "acme widget works berlin"),
            ("dirty://a/empty-host", "", "acme widget works berlin"),
            ("dirty://a/null-text", "dirty.example", None),
            ("dirty://a/empty-text", "dirty.example", ""),
            ("dirty://a/short-text", "dirty.example", "ab"),
            ("dirty://a/dup-1", "dup.example", dup_text),
            ("dirty://a/dup-2", None, dup_text),
        ],
        "url string, host string, text_norm string",
    ).select(
        "url",
        "host",
        "text_norm",
        tokenize(F.col("text_norm")).alias("tokens"),
        row_hash(F.col("text_norm")).alias("row_hash"),
    )
    records = corpus.unionByName(dirty)
    for cfg in (PipelineConfig(), PipelineConfig(max_block_size=8)):
        sigs = mention_signatures(records, cfg).localCheckpoint(eager=True)
        bands = {r["url"]: r["mh_bands"] for r in sigs.collect()}
        for url in ("dirty://a/null-text", "dirty://a/empty-text", "dirty://a/short-text"):
            assert bands[url] == []
        ref_all, ref_static = _union_law_keys(sigs, cfg)
        assert _key_rows(blocking_keys(sigs, cfg)) == _key_rows(ref_all)
        assert _key_rows(static_keys(sigs, cfg)) == _key_rows(ref_static)
        ref_pairs = (
            generate_pairs(cap_blocks(ref_all, cfg), cfg, distinct=False)
            .union(exact_dup_pairs(sigs))
            .dropDuplicates(["url_a", "url_b"])
        )
        assert _pair_digest(pairs_from_signatures(sigs, cfg)) == _pair_digest(ref_pairs)
