"""The north-rule claim proven with a REAL kill: a subprocess running the
checkpointed pipeline is SIGKILLed mid-'scored' (after >=1 bucket lineage
row commits, before the stage marker), then an in-process resume completes
only the missing work and the output equals an independent fresh run."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

import pytest

from crocodile_spark.config import PipelineConfig
from crocodile_spark.pipeline import run_pipeline

N_ENTITIES, PAGES = 1200, 6

WORKER = """
import sys
sys.path.insert(0, {repo!r})
from crocodile_spark.session import get_spark
from crocodile_spark.config import PipelineConfig
from crocodile_spark.datagen import make_corpus, corpus_to_spark
from crocodile_spark.pipeline import run_pipeline
spark = get_spark(app_name="kill-victim", master="local[4]", shuffle_partitions=8)
corpus = make_corpus(n_entities={n}, pages_per_entity={p}, seed=42,
                     filler_range=(20, 60))
wp, _, _ = corpus_to_spark(spark, corpus)
cfg = PipelineConfig(checkpoint_dir={root!r}, resume_buckets=4)
run_pipeline(spark, wp, cfg, use_html=True)
print("WORKER-FINISHED")
"""


def _scored_bucket_rows(root: str) -> int:
    import duckdb

    lineage = os.path.join(root, "_lineage")
    if not os.path.isdir(lineage) or not any(
        f.endswith(".parquet") for f in os.listdir(lineage)
    ):
        return 0
    try:
        return duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{lineage}/*.parquet') "
            "WHERE stage = 'scored' AND status = 'DONE'"
        ).fetchone()[0]
    except Exception:
        return 0  # lineage mid-write


@pytest.mark.slow
def test_sigkill_mid_scored_stage_then_resume(spark, tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = str(tmp_path / "lake_kill")
    code = WORKER.format(repo=repo, n=N_ENTITIES, p=PAGES, root=root)
    proc = subprocess.Popen(
        [sys.executable, "-c", code],
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
        start_new_session=True,  # kill the whole JVM+python group
    )
    killed = False
    deadline = time.time() + 600
    try:
        while time.time() < deadline and proc.poll() is None:
            n = _scored_bucket_rows(root)
            marker = os.path.exists(os.path.join(root, "_scored.DONE.json"))
            if n >= 1 and not marker:
                os.killpg(proc.pid, signal.SIGKILL)  # the actual kill
                killed = True
                break
            time.sleep(0.3)
    finally:
        if proc.poll() is None and not killed:
            os.killpg(proc.pid, signal.SIGKILL)
    proc.wait(60)

    if not killed:
        pytest.skip("worker finished before a mid-scored kill window opened")

    # the kill landed mid-stage: scored has lineage but no completion marker
    assert not os.path.exists(os.path.join(root, "_scored.DONE.json"))
    pre_buckets = _scored_bucket_rows(root)
    assert 1 <= pre_buckets  # at least one committed claim batch survived

    from crocodile_spark.datagen import corpus_to_spark, make_corpus

    corpus = make_corpus(n_entities=N_ENTITIES, pages_per_entity=PAGES, seed=42,
                         filler_range=(20, 60))
    wp, _, _ = corpus_to_spark(spark, corpus)
    cfg = PipelineConfig(checkpoint_dir=root, resume_buckets=4)
    out = run_pipeline(spark, wp, cfg, use_html=True)

    # upstream stages resumed from the dead process's checkpoints; scored
    # recomputed at most the buckets the kill destroyed
    stats = out.stage_stats
    assert stats["records"]["resumed"] is True
    assert stats["pairs"]["resumed"] is True
    if pre_buckets < 4:
        assert stats["scored"]["resumed"] is False
        recomputed = stats["scored"]["recomputed_buckets"]
        assert recomputed and len(recomputed) <= 4 - pre_buckets

    # and the result is IDENTICAL to an untouched fresh run
    fresh = run_pipeline(
        spark, wp, PipelineConfig(resume_buckets=4),
        use_html=True,
    )
    got = {(r["url"], r["cluster_id"]) for r in out.clusters.collect()}
    want = {(r["url"], r["cluster_id"]) for r in fresh.clusters.collect()}
    assert got == want
