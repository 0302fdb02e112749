"""Scoring stage: output independence from the pair table's partitioning."""

from __future__ import annotations

from crocodile_spark.config import PipelineConfig
from crocodile_spark.operators.blocking import mention_signatures, pairs_from_signatures
from crocodile_spark.operators.normalize_stage import normalize_pages
from crocodile_spark.operators.scoring import score


def test_score_runs_on_every_core_with_identical_rows(spark, corpus_dfs):
    """A one-partition pair table (what AQE leaves after coalescing the
    small deduplicated pairs shuffle) is scored at defaultParallelism
    width, and the scored rows equal those of a 4-partition pair table."""
    cfg = PipelineConfig()
    records = normalize_pages(corpus_dfs[0], use_html=True)
    sigs = mention_signatures(records, cfg).localCheckpoint(eager=True)
    pairs = pairs_from_signatures(sigs, cfg)
    one = pairs.coalesce(1).localCheckpoint(eager=True)
    four = pairs.repartition(4).localCheckpoint(eager=True)
    assert one.rdd.getNumPartitions() == 1

    scored_one = score(one, sigs, cfg)
    assert scored_one.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    rows_one = sorted(tuple(r) for r in scored_one.collect())
    rows_four = sorted(tuple(r) for r in score(four, sigs, cfg).collect())
    assert rows_one and rows_one == rows_four
