"""Incremental entity resolution: resolve a DELTA of new web pages against
an already-clustered corpus without re-scoring the corpus.

At 10^12 documents a full re-run per crawl batch is not an option: the
quadratic stages (pair generation, scoring) must touch only pairs that
involve at least one NEW record, and clustering must not rebuild the
whole component graph. This module provides exactly that asymmetry:

- **normalize**: only the delta is normalized (row-local, linear in delta).
- **state**: the stored resolution is one :class:`ResolutionState`
  (records, clusters, signatures, static keys, token document
  frequencies, record count, optionally accepted edges), built from a
  batch run by :meth:`ResolutionState.from_pipeline`; every delta
  operator takes one and hands the next one back.
- **signatures**: document frequencies are MERGED (:func:`merge_token_df`,
  a vocab-scale outer join of the stored (token, df) table with delta
  counts) instead of re-aggregated over the union, and signatures are
  rebuilt ONLY for the delta plus the old records holding a token whose
  distinctive/rank status changed under the new counts (a narrow semi
  join -- no full-union explode, no corpus-wide groupBy). Byte-identical
  to the full recompute by the classification law in
  :func:`incremental_signatures`.
- **pairs**: an asymmetric key join -- capped blocking keys of NEW records
  against capped keys of ALL records -- yields exactly the pairs touching
  the delta. Old-old pairs are never generated (they were scored when the
  old corpus was resolved). Exact-duplicate stars are restricted to hash
  groups containing a new record.
- **scoring**: identical law to the batch stage (same features, same
  scorer) over the delta-touching pairs only.
- **clustering**: connected components over the NEW accepted edges with
  every existing cluster CONTRACTED to its root node. Because the batch
  convention is cluster_id = min member url, the contracted node IS the
  min of its members, so min-propagation over the contracted graph yields
  the same roots as batch CC over the full edge set (old edges union new
  edges): CC(E_old + E_new) == expand(CC(contract(CC(E_old)) + E_new)).
  CC cost is O(|delta edges|), independent of corpus size; untouched old
  clusters never enter the loop.

Equivalence caveat (documented, tested): the corpus-relative DF cutoff can
make a token distinctive in the union that was not distinctive in the old
corpus alone, so a full batch re-run may generate an old-old candidate
pair the incremental path deliberately skips. On corpora whose token-DF
profile is stable under growth (the realistic crawl case, and the test
fixtures) the cluster partitions are identical.

Reference parity: crocodile's backend processes tables incrementally --
new rows are queued and resolved against the existing cache/cell state
(backend/app/services/result_sync.py, crocodile/crocodile.py ML_TABLE
update loop); this operator is the Spark-native, set-at-a-time form.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crocodile_spark.config import PipelineConfig
from crocodile_spark.lakehouse import StageResult, materialize
from crocodile_spark.operators.blocking import (
    cap_blocks,
    exact_dup_pairs,
    mention_df_threshold,
    mention_signatures,
    signatures_from_distinctive,
    static_keys,
    token_document_frequencies,
    token_keys,
)
from crocodile_spark.operators.clustering import connected_components
from crocodile_spark.operators.normalize_stage import normalize_pages
from crocodile_spark.operators.scoring import score
from crocodile_spark.pipeline import PipelineOutput


@dataclass
class ResolutionState:
    """A stored resolution: what a delta is resolved against, and what
    :func:`incremental_er` and
    :func:`~crocodile_spark.operators.recrawl.recrawl_upsert` hand back
    for the next batch.

    ``token_df`` is ``token_document_frequencies(records)`` and
    ``static_keys`` is ``static_keys(signatures)``, kept so a delta never
    re-aggregates or re-projects the corpus. ``edges`` (the accepted
    (url_a, url_b) edges) is optional: with it a re-crawl repairs
    dissolved clusters from their surviving edges instead of re-scoring
    them."""

    records: DataFrame      # normalized records
    clusters: DataFrame     # (url, cluster_id), cluster_id = min member url
    signatures: DataFrame   # signature table
    static_keys: DataFrame  # host + MinHash (url, key) rows
    token_df: DataFrame     # (token, df) over records
    n_records: int
    edges: DataFrame | None = None

    @classmethod
    def from_pipeline(
        cls,
        out: PipelineOutput,
        cfg: PipelineConfig | None = None,
        edges: bool = False,
    ) -> ResolutionState:
        """The state of a ``run_pipeline`` output: lazy frames over its
        stage tables, ``n_records`` from its ``stage_stats`` (no count
        job); ``edges=True`` keeps its accepted edges."""
        cfg = cfg or PipelineConfig()
        return cls(
            records=out.records,
            clusters=out.clusters,
            signatures=out.signatures,
            static_keys=static_keys(out.signatures, cfg),
            token_df=token_document_frequencies(out.records, cfg),
            n_records=out.stage_stats["records"]["rows"],
            edges=(
                out.scored.where(F.col("is_edge")).select("url_a", "url_b")
                if edges
                else None
            ),
        )

    def advance(
        self,
        survivors: DataFrame,
        survivor_keys: DataFrame,
        delta: StageResult,
        signatures: DataFrame,
        token_df: DataFrame,
        clusters: DataFrame,
        edges: DataFrame | None,
        cfg: PipelineConfig,
        n_removed: int = 0,
    ) -> ResolutionState:
        """The state after ``delta`` entered this one and ``n_removed``
        records (whose records and keys are already gone from
        ``survivors`` and ``survivor_keys``) left it: ``signatures``,
        ``token_df`` (the :func:`merge_token_df` table the signature stage
        materialized), ``clusters`` and ``edges`` are the delta
        operator's, and only the delta's static keys are projected."""
        delta_sigs = signatures.join(delta.df.select("url"), "url", "semi")
        return ResolutionState(
            records=survivors.select(*delta.df.columns).unionByName(delta.df),
            clusters=clusters,
            signatures=signatures,
            static_keys=survivor_keys.unionByName(static_keys(delta_sigs, cfg)),
            token_df=token_df.select("token", "df"),
            n_records=self.n_records - n_removed + delta.rows,
            edges=edges,
        )


@dataclass
class IncrementalOutput:
    delta_records: DataFrame  # normalized new records
    pairs: DataFrame          # delta-touching candidate pairs only
    scored: DataFrame         # scored delta-touching pairs
    clusters: DataFrame       # FULL updated assignment (url, cluster_id)
    state: ResolutionState    # the resolution after the delta
    stage_stats: dict = field(default_factory=dict)


def broadcast_if_small(
    df: DataFrame, col: str, n_rows: int, cfg: PipelineConfig
) -> DataFrame:
    """Byte-budget broadcast gate (ADVICE r6): a row count says nothing
    about bytes -- urls can run hundreds of characters, and a forced
    broadcast past the driver's budget OOMs where the shuffle join would
    merely be slower. Estimate ``rows x (2 x avg strlen + 48B row
    overhead)`` with the average sampled from the first 10k rows (the
    frames gated here are checkpointed/cached, so the probe is a cheap
    cache scan) and force the broadcast only under
    ``cfg.broadcast_bytes_cap``."""
    if n_rows <= 0:
        return F.broadcast(df)
    if n_rows * 48.0 > cfg.broadcast_bytes_cap:
        return df  # over budget at zero-length strings: skip the probe
    row = df.limit(10_000).select(F.avg(F.length(F.col(col))).alias("l")).first()
    est = n_rows * (2.0 * float(row["l"] or 0.0) + 48.0)
    return F.broadcast(df) if est <= cfg.broadcast_bytes_cap else df


def merge_token_df(
    token_df: DataFrame,
    delta: DataFrame,
    cfg: PipelineConfig,
    removed: DataFrame | None = None,
) -> DataFrame:
    """(token, df, df_old): the stored (token, df) table with ``delta``'s
    document frequencies added and ``removed``'s subtracted -- the union's
    ``token_document_frequencies`` from vocab-scale outer joins, without
    re-aggregating the corpus. ``df_old`` is the stored count (NULL for a
    token new to the corpus); tokens left with no holder drop out."""
    merged = token_df.select("token", F.col("df").alias("df_old")).join(
        token_document_frequencies(delta, cfg).select(
            "token", F.col("df").alias("df_delta")
        ),
        "token",
        "full_outer",
    )
    df = F.coalesce("df_old", F.lit(0)) + F.coalesce("df_delta", F.lit(0))
    if removed is not None:
        merged = merged.join(
            token_document_frequencies(removed, cfg).select(
                "token", F.col("df").alias("df_removed")
            ),
            "token",
            "full_outer",
        )
        df = df - F.coalesce("df_removed", F.lit(0))
    return merged.select("token", df.alias("df"), "df_old").where(F.col("df") > 0)


def incremental_signatures(
    existing_records: DataFrame,
    existing_signatures: DataFrame,
    existing_token_df: DataFrame,
    existing_n_records: int,
    delta: DataFrame,
    n_delta: int,
    cfg: PipelineConfig,
    changed_collect_cap: int = 20_000,
    removed_records: DataFrame | None = None,
    n_removed: int = 0,
) -> DataFrame | None:
    """Union signature table from stored state, byte-identical to
    ``mention_signatures(old union delta)`` -- without touching the old
    corpus beyond two narrow scans.

    The signature law depends on corpus state ONLY through (token -> df)
    and the relative cutoff c(N). Merging delta counts into the stored DF
    table (vocab-scale outer join) reproduces the union's (token, df)
    exactly. Document frequencies only GROW (the delta adds documents),
    which makes the set of old records whose signature can change exactly
    classifiable -- and far smaller than "holders of any df-changed
    token" (the r6-draft law, which collapsed to full recompute on
    realistic corpora where every touched entity's name tokens change
    df):

      * FLIP tokens -- signature-membership or block-eligibility changed:
        ``df_old <= c_old`` differs from ``df_new <= c_new`` (got hot in
        the delta, or the growing cutoff newly admits it), or df crossed
        ``max_block_size`` while distinctive. Every holder rebuilds.
        Under a stable DF profile these are tokens near the two
        boundaries -- a small set, collected driver-side (bounded by
        ``changed_collect_cap``, fallback to full recompute past it) and
        applied as a broadcast semi join against the old records'
        exploded tokens (a broadcast bloom filter at 10^12 docs). The
        collect exists ONLY for the cap/fallback decision -- the
        membership test is a hash probe, never an N-element expression
        literal in the plan.
      * RANK tokens -- distinctive on both sides, df changed, no flip.
        Because df never decreases, such a token can only move LATER in
        the (df, token) rarity order: it can fall OUT of a kept set but
        never enter one. So it affects exactly the records where a
        k-rarest truncation is active (stored ``size(sig_tokens) == k``
        for the signature budget, ``size(block_tokens) ==
        block_max_tokens`` for the decoupled blocking budget) AND the
        token is currently IN that kept set. Those records are found by
        a JOIN of the stored signatures' exploded kept sets against the
        rank-token set -- no driver collect, no literal, and
        on corpora where few records exceed k distinctive tokens the
        affected set is ~empty even when millions of dfs moved.

    Tokens absent from the old corpus only affect delta records, which
    are rebuilt unconditionally. Everything else keeps its stored
    signature verbatim.

    Removals (r7, the re-crawl upsert path): ``removed_records`` are rows
    LEAVING the corpus (the old versions of updated urls). Their token
    counts are SUBTRACTED in the DF merge, they are dropped from the kept
    side, and -- because a df decrease breaks the monotone-rank argument
    above (a rarer token can now ENTER a k-rarest kept set, which the
    stored truncated signature cannot reveal) -- every token whose df
    decreased while distinctive on either side is conservatively
    classified as a FLIP (all holders rebuild). Decreases only come from
    removed records' tokens, so the extra rebuild set is bounded by
    |removed| x tokens/record x holders-of-those-tokens -- delta-scale
    for re-crawl updates, where the holders of a removed record's
    distinctive tokens are mostly its own entity's other pages.

    The merged DF table is materialized once (:func:`merge_token_df`):
    the flip collect, the affected-url and the rebuilt slices all read it.
    """
    return _signature_merge(
        existing_records, existing_signatures, existing_token_df,
        existing_n_records, delta, n_delta, cfg, changed_collect_cap,
        removed_records, n_removed,
    )[0]


def _signature_merge(
    existing_records: DataFrame,
    existing_signatures: DataFrame,
    existing_token_df: DataFrame,
    existing_n_records: int,
    delta: DataFrame,
    n_delta: int,
    cfg: PipelineConfig,
    changed_collect_cap: int = 20_000,
    removed_records: DataFrame | None = None,
    n_removed: int = 0,
) -> tuple[DataFrame | None, DataFrame | None, DataFrame]:
    """The law of :func:`incremental_signatures`: (union signatures,
    affected old urls, the materialized merged (token, df, df_old)
    table), with the first two None past the flip collect cap."""
    merged = materialize(
        "token_df",
        lambda: merge_token_df(existing_token_df, delta, cfg, removed_records),
    ).df
    c_old = mention_df_threshold(cfg, existing_n_records)
    c_new = mention_df_threshold(
        cfg, existing_n_records - n_removed + n_delta
    )
    B = cfg.max_block_size
    old_distinct = F.col("df_old") <= F.lit(c_old)
    new_distinct = F.col("df") <= F.lit(c_new)
    base_changed = merged.where(
        F.col("df_old").isNotNull()
        & (old_distinct | new_distinct)
        & (
            (old_distinct != new_distinct)
            | (F.col("df") != F.col("df_old"))
        )
    )
    block_flip = (F.col("df_old") <= F.lit(B)) != (F.col("df") <= F.lit(B))
    # df decreases (removals) break the grow-only rank law: conservative
    # flip classification for any decreased distinctive token
    decreased = F.col("df") < F.col("df_old")
    is_flip = (old_distinct != new_distinct) | block_flip | decreased
    flips = base_changed.where(is_flip).select("token")
    ranks = base_changed.where(~is_flip).select("token")

    flip_rows = [r["token"] for r in flips.limit(changed_collect_cap + 1).collect()]
    if len(flip_rows) > changed_collect_cap:
        return None, None, merged
    # Broadcast semi join, NOT an up-to-20k-element F.array literal +
    # per-row arrays_overlap: the literal form embeds the flip set in the
    # expression tree (the plan-size pathology this file already fought
    # twice) and costs O(|tokens| x |flips|) per old record; the exploded
    # hash probe is O(|tokens|) and swaps cleanly for a bloom filter at
    # 10^12 records.
    flip_df = flips.sparkSession.createDataFrame(
        [(t,) for t in flip_rows], "token string"
    )
    flip_urls = (
        existing_records.select("url", F.explode("tokens").alias("token"))
        .join(F.broadcast(flip_df), "token", "semi")
        .select("url")
    )
    # A rank token affects a record only where a k-rarest truncation is
    # ACTIVE and the token currently sits in the kept set (df only grows,
    # so it can fall OUT but never enter). sig_tokens and block_tokens are
    # truncated under separate budgets since block_max_tokens was
    # decoupled (ADVICE r5/r6), so both kept sets are probed.
    rank_urls = (
        existing_signatures.where(
            F.size("sig_tokens") >= F.lit(cfg.sig_max_tokens)
        )
        .select("url", F.explode("sig_tokens").alias("token"))
        .join(ranks, "token", "semi")
        .select("url")
        .union(
            existing_signatures.where(
                F.size("block_tokens") >= F.lit(cfg.block_max_tokens)
            )
            .select("url", F.explode("block_tokens").alias("token"))
            .join(ranks, "token", "semi")
            .select("url")
        )
    )
    affected = flip_urls.union(rank_urls)
    if removed_records is not None:
        # removed urls leave the kept side entirely; they are NOT in the
        # rebuild union (existing_records is the survivor base)
        affected = affected.union(removed_records.select("url"))
    affected_urls = materialize("affected_urls", lambda: affected.distinct()).df
    affected_old = existing_records.select(*delta.columns).join(
        affected_urls, "url", "semi"
    )
    rebuild = affected_old.unionByName(delta)
    tok = rebuild.select("url", F.explode("tokens").alias("token")).where(
        F.length("token") >= cfg.min_token_length
    )
    rare = merged.where(F.col("df") <= F.lit(c_new)).select("token", "df")
    dist = tok.join(rare, "token", "inner").select("url", "token", "df")
    rebuilt = materialize(
        "rebuilt", lambda: signatures_from_distinctive(rebuild, dist, cfg)
    ).df

    sig_cols = rebuilt.columns
    kept = existing_signatures.select(*sig_cols).join(
        affected_urls, "url", "left_anti"
    )
    # Besides the vocab-scale DF table, only the DELTA-SCALE pieces are
    # materialized (affected_urls: a tiny url set; rebuilt: delta +
    # affected rows); the union is returned lazy for the caller to
    # materialize once. The affected urls seed the re-crawl's re-decided
    # set.
    return kept.unionByName(rebuilt), affected_urls, merged


def union_signatures(
    state: ResolutionState,
    base_records: DataFrame,
    delta: StageResult,
    cfg: PipelineConfig,
    removed_records: DataFrame | None = None,
    n_removed: int = 0,
) -> tuple[StageResult, DataFrame, DataFrame | None]:
    """The ``signatures`` stage of the delta paths: the signature table of
    ``base_records`` plus ``delta``, by the stored-state merge law of
    :func:`incremental_signatures`, or ``mention_signatures`` over the
    union when its flip set outgrows the collect cap.

    Returns the stage, the union's (token, df, df_old) table -- merged
    once by :func:`merge_token_df` and materialized, so the signature law
    and the next state read the same rows -- and the old urls whose
    signature the merge law rebuilt (None after the fallback)."""
    t0 = time.time()
    sigs, rebuilt, token_df = _signature_merge(
        base_records, state.signatures, state.token_df, state.n_records,
        delta.df, delta.rows, cfg, removed_records=removed_records,
        n_removed=n_removed,
    )
    if sigs is None:
        union = base_records.select(*delta.df.columns).unionByName(delta.df)
        sigs = mention_signatures(union, cfg)
    sig = materialize("signatures", lambda: sigs)
    # the stage wall includes the DF merge and the delta-scale slices
    sig.wall_s = time.time() - t0
    return sig, token_df, rebuilt


def delta_pairs(
    sigs: DataFrame,
    new_urls: DataFrame,
    cfg: PipelineConfig,
    existing_static_keys: DataFrame,
    seed_urls: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs touching at least one new record.

    Asymmetric generation: the left side of the key equi-join is restricted
    to keys of NEW records (semi join -- no data widening), the right side
    is all capped keys. new-new pairs appear in both orientations and
    new-old pairs in one; least/greatest + dropDuplicates canonicalizes.
    The join is delta_keys x block members, so work is
    O(|delta| * avg_block_size), not O(corpus^2).

    ``existing_static_keys`` are the stored (url, key) host+MinHash rows
    of the already-resolved records, so only the NEW records' static keys
    are projected from ``sigs``; the corpus-DF-dependent ``tok:`` family
    is recomputed over the union. Shingling itself happens in the
    signature stage (``mh_bands``), so it runs over the rebuilt
    signatures only -- the delta plus the old records whose signature the
    DF merge rebuilt. The resulting key set is BYTE-IDENTICAL to the full
    recompute -- static keys are per-record constants -- so the pairs are
    exactly the full run's candidate pairs that touch a new record.

    ``seed_urls`` (r7, the re-crawl upsert path) decouples the two roles
    ``new_urls`` plays: ``new_urls`` stays "records with no stored static
    keys" (keys projected from ``sigs``), while the SEED -- which urls'
    keys anchor pair generation, the delta-held-key restriction, and the
    dup-star scope -- widens to ``seed_urls``. Old records whose signature
    was rebuilt (or whose cluster was dissolved) then re-enter pairing
    with their STORED static keys. Default (None) keeps the original law:
    seed == new_urls.
    """
    seed = new_urls if seed_urls is None else seed_urls
    delta_sigs = sigs.join(new_urls, "url", "semi")
    delta_static = static_keys(delta_sigs, cfg)
    keys = (
        token_keys(sigs)
        .union(existing_static_keys.select("url", "key"))
        .union(delta_static)
    )
    # Restrict the key universe to DELTA-HELD keys before capping.
    # Equivalent law: a pair requires a key held by a new record
    # (new_keys below), and the semi join keeps every member row of
    # each kept key, so per-key cap counts are identical -- the only
    # rows dropped belong to keys that could never produce a pair.
    # The cap groupBy then shuffles members of delta-held keys
    # (pair-fraction scale) instead of the full O(N x keys/record)
    # universe. The delta key set is delta-scale and broadcasts.
    # (An r6-draft A/B under heavy host noise was inconclusive; the
    # quiet per-phase probes showed the unrestricted cap shuffle at
    # ~15 s of a 40 s pairs stage at 529k/5% -- see BENCH.md r6.)
    # Materialized: the key list is delta-scale, but its PLAN embeds
    # the MinHash band-key expression forest; the cap and pair joins
    # below replicate their input subtree 4x during planning, and with
    # the un-truncated delta_keys tree inside, the duplicated
    # expression forest OOMed the driver while merely FORMATTING the
    # plan string. The checkpoint collapses it to a scan leaf.
    if seed_urls is None:
        seed_sigs, seed_static = delta_sigs, delta_static
    else:
        seed_sigs = sigs.join(seed, "url", "semi")
        # seeds that are old records pair through their STORED static
        # keys; only content-new urls (new_urls) take theirs from sigs
        seed_static = delta_static.union(
            existing_static_keys.select("url", "key").join(
                seed, "url", "semi"
            )
        )
    dk = materialize(
        "delta_keys",
        lambda: token_keys(seed_sigs)
        .select("key")
        .union(seed_static.select("key"))
        .distinct(),
    )
    # Broadcast the materialized key set when it is hash-table-sized:
    # the semi join then FILTERS the key universe during the scan with
    # no shuffle at all, which is the whole point -- a sort-merge semi
    # would shuffle the full O(N x keys/record) universe once more and
    # cost more than the cap shuffle it saves (measured: pairs stage
    # 40 s unrestricted vs 96 s restricted-SMJ at 529k/5%). Past the
    # byte gate (huge deltas), fall back to the shuffle semi, where
    # the cap saving still applies.
    keys = keys.join(broadcast_if_small(dk.df, "key", dk.rows, cfg), "key", "semi")
    capped = cap_blocks(keys, cfg)
    new_keys = capped.join(seed, "url", "semi")
    cand = (
        new_keys.select(F.col("url").alias("u1"), "key")
        .join(capped.select(F.col("url").alias("u2"), "key"), "key")
        .where(F.col("u1") != F.col("u2"))
        .select(
            F.least("u1", "u2").alias("url_a"),
            F.greatest("u1", "u2").alias("url_b"),
        )
    )
    # exact-duplicate stars, restricted to hash groups that gained a member
    # AND to edges touching a new record: old-old members of such a group
    # are already connected in the existing clusters (exact dups force
    # is_edge in the batch run), so re-emitting their edges is pure waste
    # and would break the no-old-old-pair contract
    delta_hashes = (
        sigs.join(seed, "url", "semi").select("row_hash").distinct()
    )
    dup = exact_dup_pairs(sigs.join(delta_hashes, "row_hash", "semi"))
    dup = (
        dup.join(seed.withColumnRenamed("url", "url_a"), "url_a", "semi")
        .select("url_a", "url_b")
        .union(
            dup.join(
                seed.withColumnRenamed("url", "url_b"), "url_b", "semi"
            ).select("url_a", "url_b")
        )
    )
    return cand.union(dup).dropDuplicates(["url_a", "url_b"])


def score_delta_pairs(
    sigs: DataFrame,
    new_urls: DataFrame,
    cfg: PipelineConfig,
    existing_static_keys: DataFrame,
    seed_urls: DataFrame | None = None,
) -> tuple[StageResult, StageResult]:
    """The ``pairs`` and ``scored`` stages of the delta paths:
    :func:`delta_pairs`, then ``score`` over them."""
    p = materialize(
        "pairs",
        lambda: delta_pairs(sigs, new_urls, cfg, existing_static_keys, seed_urls),
    )

    def scored() -> DataFrame:
        # Restrict the feature-join signature side to PAIR-TOUCHED urls:
        # the two per-side joins in attach_pair_features are inner, so
        # rows for untouched urls never contribute and the output is
        # identical -- but the join now shuffles the touched subset
        # (pair-fraction scale, ~1/3 of rows at 529k/5%) instead of the
        # full signature table twice. Same gated broadcast as the
        # delta-key restriction: scan-filter the signature table.
        touched = materialize(
            "touched_urls",
            lambda: p.df.select(F.col("url_a").alias("url"))
            .union(p.df.select(F.col("url_b").alias("url")))
            .distinct(),
        )
        touched_b = broadcast_if_small(touched.df, "url", touched.rows, cfg)
        return score(p.df, sigs.join(touched_b, "url", "semi"), cfg)

    return p, materialize("scored", scored)


def merge_clusters(
    existing_clusters: DataFrame,
    new_urls: DataFrame,
    new_edges: DataFrame,
    max_iterations: int = 20,
) -> DataFrame:
    """Updated (url, cluster_id) for old + new records.

    Contract: each edge endpoint is replaced by its representative -- the
    existing cluster root for old records, the url itself for new ones.
    Self-loops after contraction (both endpoints already in one cluster)
    drop out in CC's canonicalization. The contracted graph has one node
    per TOUCHED old cluster plus the connected new records; everything
    else is carried over unchanged by the left joins below.
    """
    # Filter the representative table to edge ENDPOINTS before the rep
    # joins: a right-side row whose url appears in no edge never matches,
    # so the left-join results are identical, but the two joins move the
    # endpoint subset (delta-edge scale) instead of shuffling the full
    # (url, cluster_id) assignment twice -- at 529k/5% those two corpus
    # shuffles dominated the merge stage.
    endpoints = (
        new_edges.select(F.col("url_a").alias("url"))
        .union(new_edges.select(F.col("url_b").alias("url")))
        .distinct()
    )
    touched_reps = existing_clusters.join(endpoints, "url", "semi")
    rep_a = touched_reps.select(
        F.col("url").alias("url_a"), F.col("cluster_id").alias("rep_a")
    )
    rep_b = touched_reps.select(
        F.col("url").alias("url_b"), F.col("cluster_id").alias("rep_b")
    )
    contracted = (
        new_edges.join(rep_a, "url_a", "left")
        .join(rep_b, "url_b", "left")
        .select(
            F.coalesce("rep_a", "url_a").alias("u"),
            F.coalesce("rep_b", "url_b").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
    )
    cc = connected_components(contracted, max_iterations)

    # old records: re-root members of touched clusters, keep the rest
    root_update = cc.select(
        F.col("node").alias("cluster_id"), F.col("cluster_id").alias("new_cid")
    )
    old_assign = (
        existing_clusters.join(root_update, "cluster_id", "left")
        .select(
            "url",
            F.coalesce("new_cid", "cluster_id").alias("cluster_id"),
        )
    )
    # new records: direct CC assignment, singletons root themselves
    new_assign = (
        new_urls.join(cc.withColumnRenamed("node", "url"), "url", "left")
        .select("url", F.coalesce("cluster_id", "url").alias("cluster_id"))
    )
    return old_assign.unionByName(new_assign)


def incremental_er(
    spark: SparkSession,
    state: ResolutionState,
    new_pages: DataFrame,
    cfg: PipelineConfig | None = None,
    use_html: bool = True,
) -> IncrementalOutput:
    """Resolve ``new_pages`` against the stored resolution ``state``
    (:meth:`ResolutionState.from_pipeline` over a batch run, or the
    ``state`` of an earlier delta).

    The union signature table comes from :func:`incremental_signatures`
    -- delta counts merged into the stored DF table, signatures rebuilt
    only for delta + status-changed records -- so no stage aggregates the
    corpus. The output ``state`` is the resolution after the delta, ready
    for the next one; ``state.edges``, when kept, gains the delta's
    accepted edges.
    """
    cfg = cfg or PipelineConfig()

    def records() -> DataFrame:
        # re-crawl guard: a url already in the corpus must not enter the
        # union twice (duplicate rows would merge both versions' tokens
        # under the signature groupBy, fan out every scored pair touching
        # the url, and emit the url from both the old and new assignment
        # below). First version wins -- re-crawl UPDATES are
        # :func:`~crocodile_spark.operators.recrawl.recrawl_upsert`.
        # The anti-join build side is CORPUS-scale, so broadcast only
        # under a known byte budget; past it, the shuffle anti-join stands
        # in for what a 10^12-doc deployment would do with a bloom-filter
        # pre-pass + exact check on hits.
        guard = broadcast_if_small(
            state.records.select("url"), "url", state.n_records, cfg
        )
        return normalize_pages(new_pages, use_html).join(guard, "url", "left_anti")

    rec = materialize("records", records)
    new_urls = rec.df.select("url")
    sig, token_df, _ = union_signatures(state, state.records, rec, cfg)
    p, sc = score_delta_pairs(sig.df, new_urls, cfg, state.static_keys)
    new_edges = sc.df.where(F.col("is_edge")).select("url_a", "url_b")
    cl = materialize(
        "clusters",
        lambda: merge_clusters(
            state.clusters, new_urls, new_edges, cfg.max_cc_iterations
        ),
    )
    edges = None if state.edges is None else state.edges.unionByName(new_edges)
    stages = (rec, sig, p, sc, cl)
    return IncrementalOutput(
        rec.df, p.df, sc.df, cl.df,
        state=state.advance(
            state.records, state.static_keys, rec, sig.df, token_df, cl.df,
            edges, cfg,
        ),
        stage_stats={st.name: st.stats() for st in stages},
    )
