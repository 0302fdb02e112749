"""End-to-end record-linkage pipeline: normalize -> block -> score -> cluster.

One linear DAG of five stages (SURVEY.md section 3.4), each a
read -> transform -> write against the Lakehouse when a checkpoint root is
configured (stage-level resume + per-partition lineage), or an in-memory
``materialize`` when not; both modes fill ``stage_stats`` with the same
keys. The evaluation operator computes pairwise F1 against gold labels
restricted to pairs sharing a blocking key -- the metric law of
BASELINE.json (north_rule).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crocodile_spark.config import PipelineConfig
from crocodile_spark.lakehouse import Lakehouse, materialize
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
    lake = Lakehouse(spark, cfg.checkpoint_dir) if cfg.checkpoint_dir else None
    stage = lake.run_stage if lake else materialize

    r = stage("records", lambda: normalize_pages(web_pages, use_html))
    s = stage("signatures", lambda: mention_signatures(r.df, cfg))
    p = stage("pairs", lambda: pairs_from_signatures(s.df, cfg))
    if lake:
        # scoring is pair-local -> bucketed by url_a for MID-stage resume
        # (a killed run recomputes only the buckets without lineage rows)
        sc = lake.run_stage_bucketed(
            "scored",
            p.df,
            lambda bucket: score(bucket, s.df, cfg),
            bucket_col="url_a",
            n_buckets=cfg.resume_buckets,
        )
    else:
        sc = materialize("scored", lambda: score(p.df, s.df, cfg))
    cl = stage(
        "clusters",
        lambda: cluster_records(r.df, sc.df, max_iterations=cfg.max_cc_iterations),
    )
    stages = (r, s, p, sc, cl)
    return PipelineOutput(*(st.df for st in stages), {st.name: st.stats() for st in stages})


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
