"""Incremental ER: delta-scoped pair generation + cluster-contracted CC.

The operator's contract is equivalence with the batch pipeline on the
union corpus (modulo the documented DF-drift caveat) while touching only
delta work in the quadratic stages.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crocodile_spark.config import PipelineConfig
from crocodile_spark.datagen import make_corpus, corpus_to_spark
from crocodile_spark.operators.incremental_er import (
    ResolutionState,
    incremental_er,
    merge_clusters,
)
from crocodile_spark.pipeline import evaluate_pairwise_f1, run_pipeline


def _resolve(spark, base, new, cfg):
    return incremental_er(spark, ResolutionState.from_pipeline(base, cfg), new, cfg)


def _pair_set(pairs_df):
    return {(r["url_a"], r["url_b"]) for r in pairs_df.select("url_a", "url_b").collect()}


def _partition(clusters_df):
    """Cluster partition as a set of frozensets (root labels ignored)."""
    rows = clusters_df.select("url", "cluster_id").collect()
    by_cid: dict = {}
    for r in rows:
        by_cid.setdefault(r["cluster_id"], set()).add(r["url"])
    return {frozenset(v) for v in by_cid.values()}


@pytest.fixture(scope="module")
def split_corpus(spark):
    """A corpus split 80/20 by a deterministic url hash: the 20% delta
    contains both new pages of EXISTING entities (pages that must join
    old clusters) and pages of entities entirely inside the delta."""
    wp, kb, gold = corpus_to_spark(
        spark, make_corpus(n_entities=50, pages_per_entity=6, seed=99)
    )
    wp = wp.cache()
    # ~20% of pages by url hash, plus EVERY page of entities 0 and 1 (the
    # hash split alone almost never captures a whole 6-page entity)
    is_new = (F.pmod(F.xxhash64("url"), F.lit(5)) == 0) | (
        F.col("entity_id") < 2
    )
    old = wp.where(~is_new).cache()
    new = wp.where(is_new).cache()
    assert 0 < new.count() < wp.count()
    return wp, old, new, gold


def test_incremental_matches_batch_partition(spark, split_corpus):
    """Full-batch on the union == batch on 80% + incremental 20%: the
    cluster PARTITIONS (and the min-member roots) must be identical."""
    wp, old, new, gold = split_corpus
    cfg = PipelineConfig()

    full = run_pipeline(spark, wp, cfg)
    base = run_pipeline(spark, old, cfg)
    inc = _resolve(spark, base, new, cfg)

    assert _partition(inc.clusters) == _partition(full.clusters)
    # same root convention (min member), not just same grouping
    full_roots = {r["cluster_id"] for r in full.clusters.collect()}
    inc_roots = {r["cluster_id"] for r in inc.clusters.collect()}
    assert inc_roots == full_roots
    # and the incremental result scores at least as well on gold
    m = evaluate_pairwise_f1(inc.clusters, gold, full.pairs)
    assert m["f1"] >= 0.99


def test_incremental_with_stored_static_keys_is_identical(spark, split_corpus):
    """Resolving from the stored host+MinHash keys of the base corpus
    (no corpus re-shingling) yields exactly the full batch run's
    candidate pairs that touch a delta url -- static keys are per-record
    constants, so the key set is the full run's (the delta_pairs law)."""
    wp, old, new, _ = split_corpus
    cfg = PipelineConfig()
    full = run_pipeline(spark, wp, cfg)
    base = run_pipeline(spark, old, cfg)
    inc = _resolve(spark, base, new, cfg)

    new_urls = {r["url"] for r in new.select("url").collect()}
    want = {p for p in _pair_set(full.pairs) if new_urls & set(p)}
    assert _pair_set(inc.pairs) == want


def test_incremental_pairs_all_touch_delta(spark, split_corpus):
    """No old-old pair is ever generated: the quadratic stage is
    delta-scoped by construction."""
    _, old, new, _ = split_corpus
    cfg = PipelineConfig()
    base = run_pipeline(spark, old, cfg)
    inc = _resolve(spark, base, new, cfg)

    new_urls = {r["url"] for r in new.select("url").collect()}
    for r in inc.pairs.collect():
        assert r["url_a"] in new_urls or r["url_b"] in new_urls


def test_incremental_empty_delta_is_identity(spark, split_corpus):
    """An empty delta returns the existing assignment unchanged."""
    _, old, new, _ = split_corpus
    cfg = PipelineConfig()
    base = run_pipeline(spark, old, cfg)
    inc = _resolve(spark, base, new.limit(0), cfg)
    assert inc.pairs.count() == 0
    assert _partition(inc.clusters) == _partition(base.clusters)


def test_incremental_recrawl_urls_are_ignored(spark, split_corpus):
    """A delta containing already-resolved urls (re-crawls) must not
    produce duplicate assignment rows: first version wins, re-crawled
    rows are dropped before the union."""
    _, old, new, _ = split_corpus
    cfg = PipelineConfig()
    base = run_pipeline(spark, old, cfg)
    # poison the delta with 10 pages the base corpus already resolved
    recrawl = new.unionByName(old.limit(10))
    inc = _resolve(spark, base, recrawl, cfg)
    assert inc.clusters.count() == inc.clusters.select("url").distinct().count()
    clean = _resolve(spark, base, new, cfg)
    assert _partition(inc.clusters) == _partition(clean.clusters)


def test_merge_clusters_contracts_and_carries_untouched(spark):
    """Unit law for the contraction: an edge from a new node into cluster
    (a,b) re-roots that cluster; cluster (x,y) is untouched and keeps its
    root; a singleton new node roots itself."""
    existing = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("x", "x"), ("y", "x")],
        "url string, cluster_id string",
    )
    new_urls = spark.createDataFrame([("0new",), ("zsolo",)], "url string")
    edges = spark.createDataFrame([("0new", "b")], "url_a string, url_b string")
    got = {
        r["url"]: r["cluster_id"]
        for r in merge_clusters(existing, new_urls, edges).collect()
    }
    # '0new' < 'a': the merged cluster re-roots to the new min member
    assert got == {
        "a": "0new",
        "b": "0new",
        "0new": "0new",
        "x": "x",
        "y": "x",
        "zsolo": "zsolo",
    }


def test_incremental_new_entity_forms_own_cluster(spark, split_corpus):
    """Entities whose every page is in the delta cluster among themselves,
    never absorbing old records."""
    _, old, new, _ = split_corpus
    cfg = PipelineConfig()
    base = run_pipeline(spark, old, cfg)
    inc = _resolve(spark, base, new, cfg)

    old_urls = {r["url"] for r in old.select("url").collect()}
    parts = _partition(inc.clusters)
    # any all-new cluster must exist iff the batch run also makes one;
    # structural check: no cluster mixes records unless an edge chain
    # exists -- here we just assert all-new clusters are allowed and
    # old-only clusters were not split (old-only cluster sets from the
    # base run survive or merge, never fragment)
    base_parts = _partition(base.clusters)
    for bp in base_parts:
        assert any(bp <= p for p in parts), f"base cluster fragmented: {bp}"
    assert any(p and p.isdisjoint(old_urls) for p in parts)


# ---- r6: stored token-DF state (incremental_signatures) --------------------


def _sig_rows(sigs):
    return sorted(
        (r["url"], tuple(r["sig_tokens"]), tuple(r["block_tokens"]), r["mention_norm"])
        for r in sigs.select(
            "url", "sig_tokens", "block_tokens", "mention_norm"
        ).collect()
    )


def _state_fixture(spark):
    """Hand-built corpus triggering EVERY signature-change class:

    cfg: floor=2, frac=0.15, k=2, B=2; N_old=12 -> c_old=2, N=18 -> c_new=3.
      lost  df 2->4: loses distinctiveness (got hot in the delta) -- FLIP
      grow  df 3->3: newly distinctive (cutoff growth alone) -- FLIP
      shift df 2->3: distinctive both sides, crosses B=2 out of
                     block_tokens -- FLIP (block-eligibility)
      rk    df 1->2: distinctive both sides, NO boundary crossed -- a pure
                     RANK token; bx holds 3 distinctive tokens (> k=2) and
                     rk falls out of its kept set when its df grows, the
                     join-path (no driver collect) rebuild class
      by    truncating (exactly k distinctive) but holding no changed
            token -- must stay on the kept path untouched
      stables/aa*/cc*/za/zb/qq/ma/mb/yy0: df unchanged -> kept b7-b9
    """
    from crocodile_spark.operators.normalize_stage import normalize_pages

    cfg = PipelineConfig(
        mention_df_floor=2,
        mention_df_fraction=0.15,
        sig_max_tokens=2,
        max_block_size=2,
    )
    base_rows = [
        ("http://h0.ex/b0", "lost aa0"),
        ("http://h1.ex/b1", "lost aa1"),
        ("http://h2.ex/b2", "grow cc2"),
        ("http://h3.ex/b3", "grow cc3"),
        ("http://h4.ex/b4", "grow cc4"),
        ("http://h5.ex/b5", "shift za zb"),
        ("http://h6.ex/b6", "shift za zb qq"),
        ("http://h7.ex/b7", "stablea stableb"),
        ("http://h8.ex/b8", "stablec stabled"),
        ("http://h9.ex/b9", "stablee stablef"),
        ("http://hx.ex/bx", "rk ma mb"),
        ("http://hy.ex/by", "mb yy0"),
    ]
    delta_rows = [
        ("http://hd0.ex/d0", "lost dd0"),
        ("http://hd1.ex/d1", "lost dd1"),
        ("http://hd2.ex/d2", "shift dd2"),
        ("http://hd3.ex/d3", "fresh dd3"),
        ("http://hd4.ex/d4", "fresh dd4"),
        ("http://hd5.ex/d5", "rk dd5"),
    ]
    base_wp = spark.createDataFrame(base_rows, ["url", "text"])
    delta_wp = spark.createDataFrame(delta_rows, ["url", "text"])
    base = normalize_pages(base_wp, use_html=False).cache()
    delta = normalize_pages(delta_wp, use_html=False).cache()
    return cfg, base, delta


def test_incremental_signatures_byte_identical_to_full(spark):
    """The equivalence contract: incremental_signatures over stored state
    == mention_signatures over the union, byte for byte, on a fixture
    where every change class (status flip both directions, k-rarest
    reorder, block-eligibility cross) fires."""
    from crocodile_spark.operators.blocking import (
        mention_signatures,
        token_document_frequencies,
    )
    from crocodile_spark.operators.incremental_er import incremental_signatures

    cfg, base, delta = _state_fixture(spark)
    base_sigs = mention_signatures(base, cfg).cache()
    token_df = token_document_frequencies(base, cfg).cache()
    n_old = base.count()

    inc_sigs = incremental_signatures(
        base, base_sigs, token_df, n_old, delta, delta.count(), cfg
    )
    assert inc_sigs is not None
    # flip membership is a broadcast semi join, never an embedded
    # array-literal + arrays_overlap scan (plan-size pathology)
    plan = inc_sigs._jdf.queryExecution().analyzed().toString()
    assert "arrays_overlap" not in plan
    union = base.select(*delta.columns).unionByName(delta)
    full_sigs = mention_signatures(union, cfg)
    assert _sig_rows(inc_sigs) == _sig_rows(full_sigs)

    # the change classes really fired: b5's kept set reordered away from
    # 'shift', 'grow' entered b2-b4, 'lost' left b0/b1, shift left
    # block_tokens (B=2) while staying scored, and the pure-rank token
    # 'rk' fell out of bx's kept set via the join path
    rows = {u: (s, b) for u, s, b, _ in _sig_rows(inc_sigs)}
    assert "shift" not in rows["http://h5.ex/b5"][0]
    assert "grow" in rows["http://h2.ex/b2"][0]
    assert "lost" not in rows["http://h0.ex/b0"][0]
    d2 = rows["http://hd2.ex/d2"]
    assert "shift" in d2[0] and "shift" not in d2[1]
    assert rows["http://hx.ex/bx"][0] == ("ma", "mb")  # rk fell out
    assert rows["http://hy.ex/by"][0] == ("mb", "yy0")  # kept untouched


def test_incremental_signatures_cap_falls_back(spark):
    from crocodile_spark.operators.blocking import (
        mention_signatures,
        token_document_frequencies,
    )
    from crocodile_spark.operators.incremental_er import incremental_signatures

    cfg, base, delta = _state_fixture(spark)
    out = incremental_signatures(
        base,
        mention_signatures(base, cfg),
        token_document_frequencies(base, cfg),
        base.count(),
        delta,
        delta.count(),
        cfg,
        changed_collect_cap=1,
    )
    assert out is None  # 3 changed tokens > cap -> caller recomputes


def test_incremental_er_with_state_identical_partition(spark, split_corpus):
    """End-to-end: incremental_er over the stored state (signatures +
    token-DF + n + static keys) produces the full batch run's partition
    on the realistic split corpus."""
    wp, old, new, gold = split_corpus
    cfg = PipelineConfig()
    full = run_pipeline(spark, wp, cfg)
    base = run_pipeline(spark, old, cfg)
    inc = _resolve(spark, base, new, cfg)
    assert _partition(inc.clusters) == _partition(full.clusters)


def test_incremental_state_equals_from_scratch_state(
    spark, split_corpus, assert_state_from_scratch
):
    """The returned state is the state a batch run over the union would
    build: merged token DF, stored + delta static keys, record count and
    signatures."""
    wp, old, new, _ = split_corpus
    cfg = PipelineConfig()
    base = run_pipeline(spark, old, cfg)
    inc = _resolve(spark, base, new, cfg)
    assert_state_from_scratch(inc.state, run_pipeline(spark, wp, cfg), cfg)


def test_broadcast_gate_is_byte_budgeted(spark):
    """ADVICE r6: forced broadcasts on the delta path are gated by an
    estimated byte size (rows x avg strlen), not a bare row count -- a
    row-count gate lets a few million multi-hundred-byte urls OOM the
    driver."""
    from crocodile_spark.operators.incremental_er import broadcast_if_small

    df = spark.createDataFrame(
        [("u" * 300,) for _ in range(50)], "url string"
    ).localCheckpoint(eager=True)
    tight = PipelineConfig(broadcast_bytes_cap=10_000)
    # 50 rows x (2x300 + 48) ~ 32kB > 10kB: falls back to the shuffle join
    assert broadcast_if_small(df, "url", 50, tight) is df
    # count-only fast path: 5M rows exceed the cap at zero-length strings,
    # no probe job needed
    assert broadcast_if_small(df, "url", 5_000_000, tight) is df
    roomy = PipelineConfig(broadcast_bytes_cap=128 << 20)
    assert broadcast_if_small(df, "url", 50, roomy) is not df
