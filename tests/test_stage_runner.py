"""One stage runner: ``stage_stats`` carries the same per-stage keys on
the in-memory, durable, incremental and re-crawl paths, its row counts
are the stages' row counts, and recording them launches no Spark job."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crocodile_spark.config import PipelineConfig
from crocodile_spark.datagen import corpus_to_spark, make_corpus
from crocodile_spark.lakehouse import materialize
from crocodile_spark.operators.blocking import mention_signatures
from crocodile_spark.operators.incremental_er import ResolutionState, incremental_er
from crocodile_spark.operators.normalize_stage import normalize_pages
from crocodile_spark.operators.recrawl import recrawl_upsert
from crocodile_spark.pipeline import run_pipeline

STAGES = ("records", "signatures", "pairs", "scored", "clusters")
KEYS = {"rows", "wall_s", "resumed"}


def _jobs(spark, group: str, fn):
    """Run ``fn`` under job group ``group``; return (result, jobs run)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        res = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return res, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def paths(spark, tmp_path_factory):
    """Every stage-running path over one small corpus: name -> (stage
    frames, stage_stats)."""
    wp, _, _ = corpus_to_spark(
        spark, make_corpus(n_entities=20, pages_per_entity=5, seed=29)
    )
    wp = wp.localCheckpoint(eager=True)
    cfg = PipelineConfig()
    is_new = F.pmod(F.xxhash64("url"), F.lit(5)) == 0
    base_wp, new_wp = wp.where(~is_new), wp.where(is_new)

    def frames(out, records, signatures):
        return dict(zip(STAGES, (records, signatures, out.pairs, out.scored, out.clusters)))

    mem = run_pipeline(spark, wp, cfg, use_html=False)
    durable_cfg = PipelineConfig(
        checkpoint_dir=str(tmp_path_factory.mktemp("runner") / "lake"),
    )
    dur = run_pipeline(spark, wp, durable_cfg, use_html=False)
    base = run_pipeline(spark, base_wp, cfg, use_html=False)
    state = ResolutionState.from_pipeline(base, cfg)
    inc = incremental_er(spark, state, new_wp, cfg, use_html=False)
    updated = base_wp.where(F.pmod(F.xxhash64("url"), F.lit(7)) == 2).withColumn(
        "text", F.concat("text", F.lit(" revised"))
    )
    rec = recrawl_upsert(
        spark, state, new_wp.unionByName(updated), cfg, use_html=False
    )
    assert rec.stage_stats["n_updated"] > 0
    return {
        "in_memory": (frames(mem, mem.records, mem.signatures), mem.stage_stats),
        "durable": (frames(dur, dur.records, dur.signatures), dur.stage_stats),
        "incremental_er": (
            frames(inc, inc.delta_records, inc.state.signatures), inc.stage_stats
        ),
        "recrawl_upsert": (
            frames(rec, rec.delta_records, rec.state.signatures), rec.stage_stats
        ),
    }


def test_stage_stats_same_keys_on_every_path(paths):
    for name, (_, stats) in paths.items():
        per_stage = {k: v for k, v in stats.items() if isinstance(v, dict)}
        assert tuple(per_stage) == STAGES, name
        for stage, entry in per_stage.items():
            extra = {"recomputed_buckets"} if (name, stage) == ("durable", "scored") else set()
            assert set(entry) == KEYS | extra, (name, stage)
            assert entry["resumed"] is False and entry["wall_s"] >= 0
    # recrawl keeps its flat counters beside the stages
    stats = paths["recrawl_upsert"][1]
    assert stats["n_new_or_updated"] == stats["records"]["rows"]
    assert {"n_batch", "n_updated", "edge_retaining"} <= set(stats)


def test_stage_rows_equal_stage_counts(paths):
    for name, (frames, stats) in paths.items():
        for stage, df in frames.items():
            assert stats[stage]["rows"] == df.count(), (name, stage)


def test_materialize_adds_no_job(spark):
    """The observed row count rides on the checkpoint job itself."""

    def build():
        return (
            spark.range(5000)
            .withColumn("k", F.col("id") % 37)
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    res, n_mat = _jobs(spark, "runner-materialize", lambda: materialize("s", build))
    _, n_bare = _jobs(spark, "runner-bare", lambda: build().localCheckpoint(eager=True))
    assert res.rows == 37 and res.df.count() == 37
    assert 1 <= n_mat <= n_bare


def test_known_record_count_spares_the_signature_count(spark):
    """Given the records stage's row count, ``mention_signatures`` builds
    its plan without a job and yields the signatures it gets by counting."""
    wp, _, _ = corpus_to_spark(
        spark, make_corpus(n_entities=20, pages_per_entity=5, seed=29)
    )
    cfg = PipelineConfig()
    r = materialize("records", lambda: normalize_pages(wp, use_html=False))
    known, n_known = _jobs(
        spark, "runner-sigs-known", lambda: mention_signatures(r.df, cfg, r.rows)
    )
    counted, n_counted = _jobs(
        spark, "runner-sigs-counted", lambda: mention_signatures(r.df, cfg)
    )
    assert n_known == 0 and n_counted >= 1

    def rows(df):
        return sorted(tuple(x) for x in df.collect())

    assert rows(known) == rows(counted)
