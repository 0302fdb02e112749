"""End-to-end record-linkage pipeline: normalize -> block -> score -> cluster.

One linear DAG of four stages (SURVEY.md section 3.4), each a
read -> transform -> write against the Lakehouse when a checkpoint root is
configured (stage-level resume + per-partition lineage), or kept as pure
DataFrames when not. The evaluation operator computes pairwise F1 against
gold labels restricted to pairs sharing a blocking key -- the metric law of
BASELINE.json (north_rule).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crocodile_spark.config import PipelineConfig
from crocodile_spark.lakehouse import Lakehouse
from crocodile_spark.operators.blocking import mention_signatures, pairs_from_signatures
from crocodile_spark.operators.clustering import cluster_records
from crocodile_spark.operators.normalize_stage import normalize_pages
from crocodile_spark.operators.scoring import score


@dataclass
class PipelineOutput:
    records: DataFrame
    signatures: DataFrame
    pairs: DataFrame
    scored: DataFrame
    clusters: DataFrame
    stage_stats: dict = field(default_factory=dict)


def run_pipeline(
    spark: SparkSession,
    web_pages: DataFrame,
    cfg: PipelineConfig | None = None,
    use_html: bool = True,
) -> PipelineOutput:
    cfg = cfg or PipelineConfig()
    stats: dict = {}

    if cfg.checkpoint_dir:
        lake = Lakehouse(spark, cfg.checkpoint_dir)

        r = lake.run_stage("records", lambda: normalize_pages(web_pages, use_html))
        records = r.df
        s = lake.run_stage("signatures", lambda: mention_signatures(records, cfg))
        sigs = s.df
        p = lake.run_stage("pairs", lambda: pairs_from_signatures(sigs, cfg))
        pairs = p.df
        # scoring is pair-local -> bucketed by url_a for MID-stage resume
        # (a killed run recomputes only the buckets without lineage rows)
        sc = lake.run_stage_bucketed(
            "scored",
            pairs,
            lambda bucket: score(bucket, sigs, cfg),
            bucket_col="url_a",
            n_buckets=cfg.resume_buckets,
        )
        scored = sc.df
        cl = lake.run_stage(
            "clusters",
            lambda: cluster_records(records, scored, max_iterations=cfg.max_cc_iterations),
        )
        clusters = cl.df
        for st in (r, s, p, sc, cl):
            stats[st.name] = {"rows": st.rows, "wall_s": st.wall_s, "resumed": st.resumed}
            if st.recomputed_buckets is not None:
                stats[st.name]["recomputed_buckets"] = st.recomputed_buckets
    else:
        # every intermediate feeds >=2 downstream consumers: materialize
        # each EAGERLY before its fan-out consumers run -- the
        # pair-generation job scans sigs ~4x (token/host/minhash key
        # families + exact-dup stars) and the signature job scans records
        # ~3x (token explode, DF join-back, final re-join); lazy caching
        # lets those same-job scans race on the unpopulated cache and
        # recompute the full lineage per branch (r6 A/B: this, not the r5
        # signature law itself, was the er_pipeline 9->12.5 s regression).
        #
        # r8: the eager materialization is localCheckpoint(eager=True)
        # rather than persist()+count(): same race-free cache, and it also
        # TRUNCATES the logical plan, so AQE's per-stage re-optimization of
        # every downstream query (and each CC round) no longer re-walks the
        # whole normalize->block->score lineage -- two ~2.5 s driver-side
        # planning gaps measured at sf0.1 came from exactly that
        # (matched-pair A/B: ~2-4 s faster cold, clusters byte-identical).
        # Trade-off, documented: a checkpointed partition lost with its
        # executor cannot be recomputed from lineage -- this ephemeral path
        # is the dev/bench mode; production resilience is the Lakehouse
        # checkpoint branch above (stage-level resume + lineage), exactly
        # as the minhash signature materialization already documents.
        records = normalize_pages(web_pages, use_html).localCheckpoint(eager=True)
        sigs = mention_signatures(records, cfg).localCheckpoint(eager=True)
        pairs = pairs_from_signatures(sigs, cfg).localCheckpoint(eager=True)
        scored = score(pairs, sigs, cfg).localCheckpoint(eager=True)
        clusters = cluster_records(records, scored, max_iterations=cfg.max_cc_iterations)

    return PipelineOutput(records, sigs, pairs, scored, clusters, stats)


def evaluate_pairwise_f1(
    clusters: DataFrame,
    gold_pairs: DataFrame,
    candidate_pairs: DataFrame,
) -> dict:
    """Pairwise F1 on labeled pairs sharing a blocking key (north_rule law).

    A gold pair is in-scope iff it appears in the blocked candidate-pair set
    (same-block restriction); prediction = both urls in the same cluster.
    """
    ca = clusters.select(
        F.col("url").alias("url_a"), F.col("cluster_id").alias("cid_a")
    )
    cb = clusters.select(
        F.col("url").alias("url_b"), F.col("cluster_id").alias("cid_b")
    )
    scoped = gold_pairs.join(candidate_pairs, ["url_a", "url_b"], "inner")
    pred = (
        scoped.join(ca, "url_a", "left")
        .join(cb, "url_b", "left")
        .withColumn(
            "predicted",
            (F.col("cid_a").isNotNull() & (F.col("cid_a") == F.col("cid_b"))).cast("int"),
        )
    )
    agg = pred.agg(
        F.sum((F.col("predicted") * F.col("label"))).alias("tp"),
        F.sum((F.col("predicted") * (1 - F.col("label")))).alias("fp"),
        F.sum(((1 - F.col("predicted")) * F.col("label"))).alias("fn"),
        F.count(F.lit(1)).alias("n_scoped"),
    ).collect()[0]
    tp, fp, fn = int(agg["tp"] or 0), int(agg["fp"] or 0), int(agg["fn"] or 0)
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "tp": tp,
        "fp": fp,
        "fn": fn,
        "n_scoped_pairs": int(agg["n_scoped"]),
        "precision": precision,
        "recall": recall,
        "f1": f1,
    }
