"""Re-crawl upsert: update semantics (delete old version + insert new),
cluster dissolution/repair, and signature-merge removal support.

Contract: equivalence with a full batch re-run over the mutated corpus
(modulo the stable-DF-profile caveat documented on incremental_er, now
bidirectional), while touching only delta-scale state.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crocodile_spark.config import PipelineConfig
from crocodile_spark.datagen import corpus_to_spark, make_corpus
from crocodile_spark.operators.incremental_er import ResolutionState, incremental_er
from crocodile_spark.operators.recrawl import recrawl_upsert
from crocodile_spark.pipeline import run_pipeline

PAGE_COLS = ["url", "warc_ts", "html", "text", "lang"]


def _partition(clusters_df):
    rows = clusters_df.select("url", "cluster_id").collect()
    by_cid: dict = {}
    for r in rows:
        by_cid.setdefault(r["cluster_id"], set()).add(r["url"])
    return {frozenset(v) for v in by_cid.values()}


def _assert_partition_equal(got, want):
    """Equality with a diagnosable failure: a bare set-compare of ~200
    frozensets is unreadable in a flake report, so surface only the
    diverging clusters."""
    if got == want:
        return
    extra = [sorted(c) for c in got - want]
    missing = [sorted(c) for c in want - got]
    raise AssertionError(
        f"partitions diverge: {len(extra)} clusters only in result "
        f"{extra[:5]}..., {len(missing)} only in oracle {missing[:5]}..."
    )


@pytest.fixture(scope="module")
def recrawl_fixture(spark):
    """Base resolution + a re-crawl batch exercising every class:

    - moved:    2 pages of entity 0 re-fetched with entity 1's content
                (must leave cluster 0 and join cluster 1); one of them is
                the MIN url of its cluster, so the departing url is the
                cluster id itself (the re-rooting case)
    - tweaked:  2 pages of entity 2 re-fetched with extra filler (same
                entity; must stay in their cluster)
    - unchanged: 3 pages of entity 4 re-fetched byte-identical (no-ops)
    - new:      every page of entity 49 (a new cluster) plus a hash
                sample of held-out pages of existing entities
    """
    wp, _, _ = corpus_to_spark(
        spark, make_corpus(n_entities=50, pages_per_entity=6, seed=123)
    )
    wp = wp.select(*PAGE_COLS, "entity_id").cache()
    is_new = (F.col("entity_id") == 49) | (
        (F.pmod(F.xxhash64("url"), F.lit(13)) == 0) & (F.col("entity_id") > 30)
    )
    base_pages = wp.where(~is_new).cache()
    new_pages = wp.where(is_new).select(*PAGE_COLS).cache()
    assert 5 < new_pages.count() < 60

    def pages_of(ent, k):
        return sorted(
            base_pages.where(F.col("entity_id") == ent).select(*PAGE_COLS).collect(),
            key=lambda r: r["url"],
        )[:k]

    donor_text = pages_of(1, 1)[0]["text"]
    moved = pages_of(0, 2)  # sorted -> includes the min url of entity 0
    tweaked = pages_of(2, 2)
    unchanged = pages_of(4, 3)

    def as_rows(rows, new_text=None, suffix=""):
        return [
            (r["url"], r["warc_ts"], r["html"],
             (new_text if new_text is not None else r["text"]) + suffix,
             r["lang"])
            for r in rows
        ]

    batch_rows = (
        as_rows(moved, new_text=donor_text, suffix=" refetched")
        + as_rows(tweaked, suffix=" zzupdated filler")
        + as_rows(unchanged)
    )
    batch = (
        spark.createDataFrame(batch_rows, base_pages.select(*PAGE_COLS).schema)
        .unionByName(new_pages)
        .cache()
    )

    # oracle corpus: base with updated texts swapped in, plus the new pages
    upd_map = {r[0]: r[3] for r in batch_rows[:4]}  # moved + tweaked
    repl = F.col("text")
    for url, text in upd_map.items():
        repl = F.when(F.col("url") == url, F.lit(text)).otherwise(repl)
    mutated_full = (
        base_pages.select(*PAGE_COLS)
        .withColumn("text", repl)
        .unionByName(new_pages)
        .cache()
    )

    cfg = PipelineConfig()
    base = run_pipeline(spark, base_pages.select(*PAGE_COLS), cfg, use_html=False)
    base.clusters.cache().count()
    full = run_pipeline(spark, mutated_full, cfg, use_html=False)
    full_partition = _partition(full.clusters)
    moved_urls = [r["url"] for r in moved]
    donor_urls = [
        r["url"] for r in base_pages.where(F.col("entity_id") == 1).collect()
    ]
    yield {
        "cfg": cfg,
        "base_pages": base_pages,
        "base": base,
        "batch": batch,
        "mutated_full": mutated_full,
        "full_partition": full_partition,
        "moved_urls": moved_urls,
        "tweaked_urls": [r["url"] for r in tweaked],
        "donor_urls": donor_urls,
        "unchanged_urls": [r["url"] for r in unchanged],
    }
    # release module caches so later modules in the shared session don't
    # inherit this module's block-manager pressure
    for df in (wp, base_pages, new_pages, batch, mutated_full, base.clusters):
        df.unpersist()


def test_recrawl_upsert_with_state_matches_full_rerun(spark, recrawl_fixture):
    fx = recrawl_fixture
    cfg, base = fx["cfg"], fx["base"]
    out = recrawl_upsert(
        spark, ResolutionState.from_pipeline(base, cfg), fx["batch"], cfg,
        use_html=False,
    )
    _assert_partition_equal(_partition(out.clusters), fx["full_partition"])

    # classification: unchanged re-fetches never enter the delta
    unchanged = {r["url"] for r in out.unchanged_urls.collect()}
    assert unchanged == set(fx["unchanged_urls"])
    delta_urls = {r["url"] for r in out.delta_records.select("url").collect()}
    assert unchanged.isdisjoint(delta_urls)
    assert {r["url"] for r in out.updated_urls.collect()} == set(
        fx["moved_urls"]
    ) | set(fx["tweaked_urls"])

    # the moved pages really moved: co-clustered with the donor entity
    cl = {r["url"]: r["cluster_id"] for r in out.clusters.collect()}
    donor_cid = cl[fx["donor_urls"][0]]
    for u in fx["moved_urls"]:
        assert cl[u] == donor_cid

    # corpus bookkeeping: every url assigned exactly once
    assert out.clusters.count() == out.clusters.select("url").distinct().count()
    assert out.state.n_records == fx["mutated_full"].count()


def test_recrawl_state_equals_from_scratch_and_chains(
    spark, recrawl_fixture, assert_state_from_scratch
):
    """The upsert's returned state (updated urls' old versions
    subtracted) is the state a batch run over the mutated corpus would
    build, and a second delta resolved from it lands on the full run's
    partition over everything."""
    fx = recrawl_fixture
    cfg = fx["cfg"]
    out = recrawl_upsert(
        spark, ResolutionState.from_pipeline(fx["base"], cfg), fx["batch"], cfg,
        use_html=False,
    )
    assert out.stage_stats["n_updated"] > 0
    full = run_pipeline(spark, fx["mutated_full"], cfg, use_html=False)
    assert_state_from_scratch(out.state, full, cfg)

    # second delta: mirror copies of two untouched entities' pages
    mirror = (
        fx["base_pages"]
        .where(F.col("entity_id").isin(10, 11))
        .select(*PAGE_COLS)
        .withColumn("url", F.concat("url", F.lit("/mirror")))
    )
    inc = incremental_er(spark, out.state, mirror, cfg, use_html=False)
    everything = run_pipeline(
        spark, fx["mutated_full"].unionByName(mirror), cfg, use_html=False
    )
    _assert_partition_equal(_partition(inc.clusters), _partition(everything.clusters))
    assert_state_from_scratch(inc.state, everything, cfg)


def test_recrawl_all_unchanged_is_identity(spark, recrawl_fixture):
    fx = recrawl_fixture
    refetch = fx["base_pages"].select(*PAGE_COLS).limit(20)
    out = recrawl_upsert(
        spark,
        ResolutionState.from_pipeline(fx["base"], fx["cfg"]),
        refetch,
        fx["cfg"],
        use_html=False,
    )
    assert out.delta_records.count() == 0
    assert out.updated_urls.count() == 0
    assert out.unchanged_urls.count() == 20
    assert _partition(out.clusters) == _partition(fx["base"].clusters)


def test_recrawl_bridge_update_dissolves_and_splits(spark):
    """A cluster held together by a bridge record: updating the bridge to
    unrelated content must SPLIT the remainder -- the dissolution law, on
    a corpus where the old cluster's members are no longer transitively
    connected once the updated record leaves. Asserted against the full
    re-run (the oracle decides what the split looks like)."""
    rows = [
        # bridge component: a ~ b (shared rare tokens), b ~ c, a !~ c
        ("http://s1.ex/a", "alice anderson quantum flux capacitor widget alpha"),
        ("http://s2.ex/b", "alice anderson quantum flux zeta omega gadget beta"),
        ("http://s3.ex/c", "alice anderson zeta omega gadget gamma trinket delta"),
        # background so document frequencies are meaningful
        ("http://s4.ex/d", "bob barker morning show episode one"),
        ("http://s5.ex/e", "bob barker morning show episode two"),
        ("http://s6.ex/f", "carol chen research paper draft one"),
        ("http://s7.ex/g", "carol chen research paper draft two"),
        ("http://s8.ex/h", "dave diaz travel blog entry one"),
        ("http://s9.ex/i", "dave diaz travel blog entry two"),
        ("http://s10.ex/j", "erin estes cooking recipe post one"),
        ("http://s11.ex/k", "erin estes cooking recipe post two"),
        ("http://s12.ex/l", "frank fox gardening guide part one"),
    ]
    wp = spark.createDataFrame(rows, ["url", "text"])
    cfg = PipelineConfig()
    base = run_pipeline(spark, wp, cfg, use_html=False)

    batch = spark.createDataFrame(
        [("http://s2.ex/b", "unrelated zzz yyy xxx totally different now")],
        ["url", "text"],
    )
    out = recrawl_upsert(
        spark, ResolutionState.from_pipeline(base, cfg), batch, cfg, use_html=False
    )
    mutated = wp.withColumn(
        "text",
        F.when(
            F.col("url") == "http://s2.ex/b",
            F.lit("unrelated zzz yyy xxx totally different now"),
        ).otherwise(F.col("text")),
    )
    full = run_pipeline(spark, mutated, cfg, use_html=False)
    _assert_partition_equal(_partition(out.clusters), _partition(full.clusters))
    # the updated bridge left its old cluster
    cl = {r["url"]: r["cluster_id"] for r in out.clusters.collect()}
    assert cl["http://s2.ex/b"] not in (
        cl["http://s1.ex/a"],
        cl["http://s3.ex/c"],
    )


def test_incremental_signatures_removal_byte_identical(spark):
    """Signature merge with removals == mention_signatures over the
    survivor union, byte for byte, on a fixture where every
    removal-change class fires:

    cfg floor=2 frac=0.15 k=2 B=2; N 12 -> -2 removed +3 delta = 13,
    c_old = c_new = 2.
      rr  df 2->1 (holder removed): distinctive both sides, DECREASED --
          the class the grow-only rank law cannot see: rr ENTERS u0's
          k-rarest kept set (u0 holds pp/qq/rr all df2, kept was pp,qq)
      hot df 3->2 (holder removed): non-distinctive -> distinctive, the
          removal-driven status flip
      pp  df 2->3 (delta growth): distinctive -> not, the growth flip,
          firing in the same run as the removals
      aa2/aa3 df 1->0: all holders removed, token vanishes
    """
    from crocodile_spark.operators.blocking import (
        mention_signatures,
        token_document_frequencies,
    )
    from crocodile_spark.operators.incremental_er import incremental_signatures
    from crocodile_spark.operators.normalize_stage import normalize_pages

    cfg = PipelineConfig(
        mention_df_floor=2,
        mention_df_fraction=0.15,
        sig_max_tokens=2,
        max_block_size=2,
    )
    base_rows = [
        ("http://h0.ex/u0", "pp qq rr"),
        ("http://h1.ex/u1", "pp aa0"),
        ("http://h2.ex/u2", "qq aa1"),
        ("http://h3.ex/u3", "hot bb0"),
        ("http://h4.ex/u4", "hot bb1"),
        ("http://h5.ex/u5", "s1 s2"),
        ("http://h6.ex/u6", "s3 s4"),
        ("http://h7.ex/u7", "s5 s6"),
        ("http://h8.ex/u8", "s7 s8"),
        ("http://h9.ex/u9", "rr aa2"),     # removed
        ("http://ha.ex/u10", "hot aa3"),   # removed
        ("http://hb.ex/u11", "s9 s10"),
    ]
    delta_rows = [
        ("http://hd0.ex/d0", "fresh ee0"),
        ("http://hd1.ex/d1", "fresh ee1"),
        ("http://hd2.ex/d2", "pp ee2"),
    ]
    base = normalize_pages(
        spark.createDataFrame(base_rows, ["url", "text"]), use_html=False
    ).cache()
    delta = normalize_pages(
        spark.createDataFrame(delta_rows, ["url", "text"]), use_html=False
    ).cache()
    removed = base.where(
        F.col("url").isin("http://h9.ex/u9", "http://ha.ex/u10")
    ).cache()
    survivors = base.where(
        ~F.col("url").isin("http://h9.ex/u9", "http://ha.ex/u10")
    ).cache()

    inc = incremental_signatures(
        survivors,
        mention_signatures(base, cfg).cache(),
        token_document_frequencies(base, cfg).cache(),
        base.count(),
        delta,
        delta.count(),
        cfg,
        removed_records=removed,
        n_removed=removed.count(),
    )
    assert inc is not None
    full = mention_signatures(
        survivors.select(*delta.columns).unionByName(delta), cfg
    )

    def sig_rows(sigs):
        return sorted(
            (r["url"], tuple(r["sig_tokens"]), tuple(r["block_tokens"]))
            for r in sigs.select("url", "sig_tokens", "block_tokens").collect()
        )

    assert sig_rows(inc) == sig_rows(full)
    rows = {u: set(s) for u, s, _ in sig_rows(inc)}
    assert "http://h9.ex/u9" not in rows and "http://ha.ex/u10" not in rows
    assert rows["http://h0.ex/u0"] == {"rr", "qq"}  # rr entered, pp left
    assert "hot" in rows["http://h3.ex/u3"]         # removal status flip
    assert "pp" not in rows["http://h1.ex/u1"]      # growth flip


def _unionfind_partition(urls, edge_rows):
    parent = {u: u for u in urls}

    def find(u):
        while parent[u] != u:
            parent[u] = parent[parent[u]]
            u = parent[u]
        return u

    for r in edge_rows:
        a, b = find(r["url_a"]), find(r["url_b"])
        if a != b:
            parent[max(a, b)] = min(a, b)
    by: dict = {}
    for u in urls:
        by.setdefault(find(u), set()).add(u)
    return {frozenset(v) for v in by.values()}


def test_recrawl_edge_retaining_matches_full_rerun(spark, recrawl_fixture):
    """r7 edge-retaining repair: with the base resolution's accepted edges
    as state, untouched dissolved members keep their surviving edges
    instead of re-pairing -- the final partition must still equal the full
    re-run, and the OUTPUT edge state must independently reproduce that
    partition under a plain union-find (the state-maintenance law)."""
    fx = recrawl_fixture
    cfg, base = fx["cfg"], fx["base"]
    out = recrawl_upsert(
        spark,
        ResolutionState.from_pipeline(base, cfg, edges=True),
        fx["batch"],
        cfg,
        use_html=False,
    )
    assert out.stage_stats["edge_retaining"] is True
    _assert_partition_equal(_partition(out.clusters), fx["full_partition"])

    # edge-state law: union-find over out.state.edges alone reproduces the
    # final partition for the whole corpus
    urls = [r["url"] for r in fx["mutated_full"].select("url").collect()]
    uf = _unionfind_partition(urls, out.state.edges.collect())
    _assert_partition_equal(uf, fx["full_partition"])

    # no superseded edge leaks into the state: nothing incident to an
    # updated url except freshly accepted pairs
    upd = set(fx["moved_urls"]) | set(fx["tweaked_urls"])
    fresh = {
        (r["url_a"], r["url_b"])
        for r in out.scored.where(F.col("is_edge")).collect()
    }
    for r in out.state.edges.collect():
        if r["url_a"] in upd or r["url_b"] in upd:
            assert (r["url_a"], r["url_b"]) in fresh


def test_recrawl_bridge_update_splits_with_edge_retention(spark):
    """The dissolve-mode bridge-split law must survive edge retention:
    the updated bridge's incident edges are superseded (not retained), so
    the remainder splits exactly as the full re-run decides."""

    rows = [
        ("http://s1.ex/a", "alice anderson quantum flux capacitor widget alpha"),
        ("http://s2.ex/b", "alice anderson quantum flux zeta omega gadget beta"),
        ("http://s3.ex/c", "alice anderson zeta omega gadget gamma trinket delta"),
        ("http://s4.ex/d", "bob barker morning show episode one"),
        ("http://s5.ex/e", "bob barker morning show episode two"),
        ("http://s6.ex/f", "carol chen research paper draft one"),
        ("http://s7.ex/g", "carol chen research paper draft two"),
        ("http://s8.ex/h", "dave diaz travel blog entry one"),
        ("http://s9.ex/i", "dave diaz travel blog entry two"),
        ("http://s10.ex/j", "erin estes cooking recipe post one"),
        ("http://s11.ex/k", "erin estes cooking recipe post two"),
        ("http://s12.ex/l", "frank fox gardening guide part one"),
    ]
    wp = spark.createDataFrame(rows, ["url", "text"])
    cfg = PipelineConfig()
    base = run_pipeline(spark, wp, cfg, use_html=False)

    batch = spark.createDataFrame(
        [("http://s2.ex/b", "unrelated zzz yyy xxx totally different now")],
        ["url", "text"],
    )
    out = recrawl_upsert(
        spark,
        ResolutionState.from_pipeline(base, cfg, edges=True),
        batch,
        cfg,
        use_html=False,
    )
    assert out.stage_stats["edge_retaining"] is True
    mutated = wp.withColumn(
        "text",
        F.when(
            F.col("url") == "http://s2.ex/b",
            F.lit("unrelated zzz yyy xxx totally different now"),
        ).otherwise(F.col("text")),
    )
    full = run_pipeline(spark, mutated, cfg, use_html=False)
    _assert_partition_equal(_partition(out.clusters), _partition(full.clusters))
    cl = {r["url"]: r["cluster_id"] for r in out.clusters.collect()}
    assert cl["http://s2.ex/b"] not in (
        cl["http://s1.ex/a"],
        cl["http://s3.ex/c"],
    )
