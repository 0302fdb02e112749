"""Re-crawl upsert: resolve a crawl batch that REVISITS known urls.

:func:`incremental_er` deliberately scopes re-crawls out ("first version
wins") -- correct for pure-growth deltas, but at re-crawl cadence the
common case is a batch mixing brand-new urls, byte-identical re-fetches,
and urls whose content CHANGED. This operator implements full upsert
semantics -- updated url == delete old version + insert new version --
while touching only delta-scale state:

- **classify** (one corpus scan, no corpus shuffle): normalized batch
  rows split against the stored records by (url, row_hash) into NEW
  (url unseen), UNCHANGED (url seen, same row hash -- dropped, a no-op
  re-fetch), and UPDATED (url seen, hash differs).
- **remove**: the old versions of updated urls leave the corpus. Token
  document frequencies are SUBTRACTED in the stored-state DF merge
  (:func:`incremental_signatures` ``removed_records``); any token whose
  df decreased while distinctive is conservatively a FLIP (the grow-only
  rank argument does not survive removals), so every holder's signature
  is rebuilt -- a delta-scale set, since decreases only come from the
  removed records' own tokens.
- **dissolve**: clusters containing an updated url cannot be trusted --
  removing a record's edges can split its component, and the cluster id
  (min member url) may itself be the departing url. Affected clusters
  are dissolved: their surviving members become free nodes re-clustered
  from their regenerated edges, everything else is carried verbatim.
- **pair + score**: :func:`delta_pairs` with ``seed_urls`` = delta
  (new + updated versions) + dissolved members + signature-rebuilt old
  records. A record whose stored signature row is byte-identical
  contributes identical features to any pair of unchanged records, so
  its old accept/reject decisions stand -- seeding exactly the changed
  rows plus the dissolved members reproduces the full re-run's decisions
  under the same stable-DF-profile caveat documented on
  :func:`incremental_er` (old-old blocks created purely by cutoff drift
  are skipped there too). With ``state.edges`` (edge-retaining
  repair), dissolved members leave the seed entirely: their surviving
  old edges stand in for re-scoring, and only delta-touched pairs are
  regenerated -- O(delta) repair (see the function docstring).
- **cluster**: :func:`merge_clusters` over the carried assignment with
  the dissolved members + delta as fresh nodes; min-url convention makes
  the contraction law line up unchanged.

Cost: O(|batch| + |affected cluster members| + |rebuilt signatures|) on
top of scan-only passes over the stored tables -- no corpus-scale
shuffle, the same posture as the delta path it extends.

Equivalence boundary, measured at 210k and 529k (BENCH.md "529k: the
wall-clock evidence, and where the exactness boundary is"): the upsert
generates EVERY edge the full re-run accepts (zero missed, all key
families, both modes). Where partitions
diverge at scale (~1.7% of urls at 529k/21%-batch), it is the full
re-run that drops base-validated old-old edges -- corpus growth pushes
their blocks over the cap, so it never regenerates pairs the base had
scored and accepted -- making the incremental result the
quality-favoring superset (F1 vs gold identical to 4 decimals).

Reference parity: crocodile re-processes a modified document by deleting
its cached candidates and re-queuing the row (backend
result_sync/crocodile.py update loop); this is the set-at-a-time form
with explicit cluster repair.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from crocodile_spark.config import PipelineConfig
from crocodile_spark.lakehouse import materialize
from crocodile_spark.operators.incremental_er import (
    ResolutionState,
    broadcast_if_small,
    merge_clusters,
    score_delta_pairs,
    union_signatures,
)
from crocodile_spark.operators.normalize_stage import normalize_pages


@dataclass
class RecrawlOutput:
    delta_records: DataFrame    # normalized rows ENTERING the corpus (new + updated versions)
    updated_urls: DataFrame     # urls whose old version left the corpus
    unchanged_urls: DataFrame   # byte-identical re-fetches (dropped, no state change)
    pairs: DataFrame            # regenerated candidate pairs (seed-touching)
    scored: DataFrame           # scored pairs
    clusters: DataFrame         # FULL updated (url, cluster_id) assignment
    state: ResolutionState      # the resolution after the upsert
    stage_stats: dict = field(default_factory=dict)


def recrawl_upsert(
    spark: SparkSession,
    state: ResolutionState,
    pages: DataFrame,
    cfg: PipelineConfig | None = None,
    use_html: bool = True,
) -> RecrawlOutput:
    """Upsert a re-crawl batch into the stored resolution ``state`` (as
    :func:`incremental_er` takes it). The signature rebuild is the
    O(delta) merge law with removal support.

    ``state.edges`` (r7, edge-retaining repair): the base resolution's
    accepted edges (``ResolutionState.from_pipeline(..., edges=True)``).
    Without them, an updated url dissolves its WHOLE cluster into the
    pair-generation seed -- measured at 111k with ~5% scattered updates,
    that rescored 63% of the full pair volume (BENCH.md r7). With them,
    only pairs touching a RE-DECIDED url (the delta + signature-rebuilt
    old records) are regenerated; a dissolved member whose own signature
    is byte-identical keeps its surviving old edges (those not incident to
    a re-decided url -- its old accept/reject decisions stand, the same
    stable-DF-profile law as :func:`incremental_er`'s old-old contract),
    and those edges re-enter clustering alongside the fresh ones. Repair
    cost drops from O(affected-cluster members x block size) to
    O(delta-touched pairs). The output ``state.edges`` carries the
    updated edge state for the next batch: old edges minus re-decided
    incidents, plus newly accepted.
    """
    cfg = cfg or PipelineConfig()
    # one row per url per batch, deterministic winner (max row_hash):
    # a crawl batch can legitimately fetch a url twice
    w = Window.partitionBy("url").orderBy(F.col("row_hash").desc())
    batch = materialize(
        "batch",
        lambda: normalize_pages(pages, use_html)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn"),
    )

    # -- classify: one scan of the stored records, batch side broadcast --
    batch_urls = broadcast_if_small(batch.df.select("url"), "url", batch.rows, cfg)
    stored_hits = materialize(
        "stored_hits",
        lambda: state.records.select("url", F.col("row_hash").alias("old_hash"))
        .join(batch_urls, "url", "semi"),
    )
    cls = batch.df.join(stored_hits.df, "url", "left")
    changed = F.col("old_hash") != F.col("row_hash")
    unchanged_urls = cls.where(F.col("old_hash") == F.col("row_hash")).select("url")
    rec = materialize(
        "records",
        lambda: cls.where(F.col("old_hash").isNull() | changed).drop("old_hash"),
    )
    delta = rec.df
    updated = materialize("updated_urls", lambda: cls.where(changed).select("url"))
    updated_urls, n_updated = updated.df, updated.rows

    # -- remove old versions + dissolve their clusters -------------------
    if n_updated:
        upd = broadcast_if_small(updated_urls, "url", n_updated, cfg)
        removed = state.records.join(upd, "url", "semi")
        base_records = state.records.join(upd, "url", "left_anti")
        affected = materialize(
            "affected_cids",
            lambda: state.clusters.join(upd, "url", "semi")
            .select("cluster_id")
            .distinct(),
        )
        cid = broadcast_if_small(affected.df, "cluster_id", affected.rows, cfg)
        members = (
            state.clusters.join(cid, "cluster_id", "semi")
            .select("url")
            .join(upd, "url", "left_anti")
        )
        base_clusters = state.clusters.join(cid, "cluster_id", "left_anti")
        stored_keys = state.static_keys.join(upd, "url", "left_anti")
    else:
        removed = None
        base_records = state.records
        members = spark.createDataFrame([], "url string")
        base_clusters = state.clusters
        stored_keys = state.static_keys

    # -- signatures: merge law with removal support ----------------------
    # rebuilt: the old urls the merge law re-signed
    sig, token_df, rebuilt = union_signatures(
        state, base_records, rec, cfg, removed_records=removed,
        n_removed=n_updated,
    )

    # -- seeds: fresh-assignment urls + signature-rebuilt old records ----
    new_urls = delta.select("url")
    fresh_urls = materialize(
        "fresh_urls", lambda: new_urls.unionByName(members).distinct()
    ).df
    # Edge-retaining repair needs the merge law's rebuilt-record set to
    # know exactly which old records' decisions are stale; without it
    # (flip-cap sig fallback) dissolve-and-rescore stays the safe path.
    retain = state.edges is not None and n_updated > 0 and rebuilt is not None
    # the SEED is every url whose pair decisions are re-derived this run:
    # retaining mode excludes untouched dissolved members (their old
    # edges stand in for re-scoring), dissolve mode includes them
    seed = new_urls if retain else fresh_urls
    if rebuilt is not None:
        # affected_urls from the signature merge (includes removed urls,
        # harmless: they have no signature row, so they key nothing)
        seed = seed.unionByName(rebuilt).distinct()
    seed_stage = materialize("seed", lambda: seed)

    p, sc = score_delta_pairs(
        sig.df, new_urls, cfg, stored_keys, seed_urls=seed_stage.df
    )
    new_edges = sc.df.where(F.col("is_edge")).select("url_a", "url_b")

    out_edges = None
    if state.edges is not None:
        # every pair touching a seed url was scored fresh this run, so old
        # edges incident to the seed are superseded (updated urls are in
        # the delta, hence in the seed); both orientations covered. The
        # seed is delta-scale and materialized -- gate it onto the
        # broadcast path so the anti joins FILTER the edge scan.
        seed_b = broadcast_if_small(seed_stage.df, "url", seed_stage.rows, cfg)
        kept_edges = state.edges.join(
            seed_b.withColumnRenamed("url", "url_a"), "url_a", "left_anti"
        ).join(seed_b.withColumnRenamed("url", "url_b"), "url_b", "left_anti")
        out_edges = kept_edges.select("url_a", "url_b").unionByName(new_edges)
        if retain:
            # surviving edges inside the dissolved scope re-enter
            # clustering: accepted edges never span clusters, so a
            # one-sided member semi captures the affected-component set
            aff_members = (
                state.clusters.join(cid, "cluster_id", "semi").select("url")
            )
            surviving = kept_edges.join(
                aff_members.withColumnRenamed("url", "url_a"), "url_a", "semi"
            ).select("url_a", "url_b")
            new_edges = new_edges.unionByName(surviving)

    cl = materialize(
        "clusters",
        lambda: merge_clusters(
            base_clusters, fresh_urls, new_edges, cfg.max_cc_iterations
        ),
    )
    stages = (rec, sig, p, sc, cl)
    return RecrawlOutput(
        delta_records=delta,
        updated_urls=updated_urls,
        unchanged_urls=unchanged_urls,
        pairs=p.df,
        scored=sc.df,
        clusters=cl.df,
        state=state.advance(
            base_records, stored_keys, rec, sig.df, token_df, cl.df, out_edges,
            cfg, n_removed=n_updated,
        ),
        stage_stats={
            **{st.name: st.stats() for st in stages},
            "n_batch": batch.rows,
            "n_new_or_updated": rec.rows,
            "n_updated": n_updated,
            "edge_retaining": bool(retain),
        },
    )
