"""Streaming ingest test: parquet-backed stream through the normalize
stage with exactly-once file sink, plus idempotent restart."""

from __future__ import annotations

import os

from crocodile_spark.streaming.incremental import start_ingest


def test_streaming_ingest_exactly_once(spark, corpus_dfs, tmp_path):
    wp, _, _ = corpus_dfs
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    chk = str(tmp_path / "chk")
    wp.select("url", "warc_ts", "html", "text", "lang").write.parquet(src)
    n = wp.count()

    q = start_ingest(spark, src, out, chk, use_html=True)
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == n
    assert {"url", "tokens", "row_hash", "text_norm", "host"} <= set(got.columns)

    # restart with same checkpoint: no new files to process -> no duplicates
    q2 = start_ingest(spark, src, out, chk, use_html=True)
    q2.awaitTermination(60)
    assert spark.read.parquet(out).count() == n
    assert os.path.exists(chk)


def test_streaming_dedup_within_watermark(spark, corpus_dfs, tmp_path):
    """Stateful exact-dedup across micro-batches: a re-crawl of the same
    text (same row_hash) inside the watermark window is dropped."""
    from crocodile_spark.streaming.incremental import (
        dedup_stream,
        normalize_stream,
    )
    from pyspark.sql import functions as F

    wp, _, _ = corpus_dfs
    src = str(tmp_path / "in2")
    out = str(tmp_path / "out2")
    chk = str(tmp_path / "chk2")
    base = wp.select("url", "warc_ts", "html", "text", "lang").limit(40).cache()
    # batch 1: originals; batch 2: the same texts re-crawled minutes later
    base.write.parquet(src + "/b1")
    base.withColumn("url", F.concat(F.col("url"), F.lit("/recrawl"))).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 5 MINUTES")
    ).write.parquet(src + "/b2")

    records = normalize_stream(spark, src + "/*", use_html=True)
    deduped = dedup_stream(records, within="24 hours")
    q = (
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    n_hashes = base.count()  # distinct texts
    assert got.select("row_hash").distinct().count() == got.count()
    assert got.count() <= n_hashes  # every duplicate hash collapsed
    assert got.count() >= 1


def test_host_crawl_stats_state_across_batches(spark, corpus_dfs, tmp_path):
    """applyInPandasWithState: the per-host accumulator must carry state
    ACROSS micro-batches (maxFilesPerTrigger=1 forces multiple), ending at
    the exact per-host totals."""
    from pyspark.sql import functions as F

    from crocodile_spark.streaming.incremental import (
        WEB_PAGES_SCHEMA,
        host_crawl_stats,
    )
    from crocodile_spark.operators.normalize_stage import normalize_pages

    wp, _, _ = corpus_dfs
    src = str(tmp_path / "in3")
    base = wp.select("url", "warc_ts", "html", "text", "lang").limit(60).cache()
    # two files -> two micro-batches under maxFilesPerTrigger=1
    half_a = base.where(F.xxhash64("url") % 2 == 0)
    half_b = base.where(F.xxhash64("url") % 2 != 0)
    half_a.coalesce(1).write.parquet(src + "/f1")
    half_b.coalesce(1).write.parquet(src + "/f2")

    stream = (
        spark.readStream.schema(WEB_PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    stats = host_crawl_stats(normalize_pages(stream, use_html=True))
    q = (
        stats.writeStream.outputMode("update")
        .format("memory")
        .queryName("host_stats")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # last emitted row per host = final cumulative count
    got = (
        spark.table("host_stats")
        .groupBy("host")
        .agg(F.max("pages_total").alias("total"))
    )
    expected = (
        normalize_pages(base, use_html=True).groupBy("host").count()
    )
    diff = got.join(expected, "host").where(F.col("total") != F.col("count"))
    assert expected.count() > 0
    assert diff.count() == 0
    assert got.count() == expected.count()


def test_streaming_incremental_er_matches_batch(spark, tmp_path):
    """r6 (VERDICT r5 #8): the production operating loop -- a simulated
    crawl stream (3 files -> 3 micro-batches via maxFilesPerTrigger=1)
    drives incremental_er through foreachBatch, maintaining versioned
    resolution state; the final partition equals the one-shot batch
    resolution of the full corpus. The law holds for ANY batch arrival
    order (each step is the tested incremental==batch equivalence), so
    the file-order nondeterminism of the source is irrelevant.

    Fixture scale honors the incremental law's documented precondition
    (incremental_er module docstring): the token-DF profile must be
    stable under growth. At 50 entities the base is ~190 records, so
    name tokens (df ~6-8) sit far below the relative cutoff c(N) at
    every batch -- no distinctive-status flips, hence no old-old blocks
    the delta-scoped join would skip. (A 25-entity base of ~90 records
    puts name DFs exactly in the c(91)=5 -> c(155)=8 flip zone and the
    caveat bites by design.)"""
    from pyspark.sql import functions as F

    from crocodile_spark.config import PipelineConfig
    from crocodile_spark.datagen import corpus_to_spark, make_corpus
    from crocodile_spark.pipeline import run_pipeline
    from crocodile_spark.streaming.incremental import StreamingEntityResolution

    wp, _, _ = corpus_to_spark(
        spark, make_corpus(n_entities=50, pages_per_entity=6, seed=77)
    )
    wp = wp.select("url", "warc_ts", "html", "text", "lang").cache()

    src = str(tmp_path / "crawl_in")
    bucket = F.pmod(F.xxhash64("url"), F.lit(5))
    # batch 0 ~60%, batches 1/2 ~20% each; one part-file per batch so the
    # stream sees exactly three micro-batches
    for i, cond in enumerate([bucket <= 2, bucket == 3, bucket == 4]):
        wp.where(cond).coalesce(1).write.mode("append").parquet(src)

    cfg = PipelineConfig()
    res = StreamingEntityResolution(
        spark, str(tmp_path / "state"), cfg, use_html=True
    )
    q = res.run_stream(src, str(tmp_path / "chk"))
    q.awaitTermination(300)

    import json

    meta = json.load(open(str(tmp_path / "state" / "meta.json")))
    assert meta["last_batch_id"] == 2, meta  # three micro-batches really ran
    assert meta["batches"] == [0, 1, 2]
    assert meta["n_records"] == wp.count()

    batch_out = run_pipeline(spark, wp, cfg, use_html=True)

    def partition(cl):
        by = {}
        for r in cl.select("url", "cluster_id").collect():
            by.setdefault(r["cluster_id"], set()).add(r["url"])
        return {frozenset(v) for v in by.values()}

    assert partition(res.clusters()) == partition(batch_out.clusters)


def test_streaming_er_commit_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once (r6 ADVICE): a replay of an
    already-committed batch_id must be a no-op, and an orphan staging dir
    left by a failed attempt (written before the meta flip) must be
    invisible to readers and healed by the replay's overwrite."""
    import json

    from pyspark.sql import functions as F

    from crocodile_spark.config import PipelineConfig
    from crocodile_spark.datagen import corpus_to_spark, make_corpus
    from crocodile_spark.pipeline import run_pipeline
    from crocodile_spark.streaming.incremental import StreamingEntityResolution

    wp, _, _ = corpus_to_spark(
        spark, make_corpus(n_entities=50, pages_per_entity=6, seed=77)
    )
    wp = wp.select("url", "warc_ts", "html", "text", "lang").cache()
    bucket = F.pmod(F.xxhash64("url"), F.lit(5))
    base_df = wp.where(bucket <= 3)
    delta_df = wp.where(bucket == 4).cache()

    cfg = PipelineConfig()
    res = StreamingEntityResolution(
        spark, str(tmp_path / "state"), cfg, use_html=True
    )
    res.process_batch(base_df, 0)

    # simulate a FAILED first attempt at batch 1: staging rows were written
    # (with a poisoned url set that must never leak into the corpus) but
    # the meta flip never happened
    poisoned = delta_df.limit(3).withColumn(
        "url", F.concat(F.lit("http://orphan.example/"), F.col("url"))
    )
    from crocodile_spark.pipeline import run_pipeline as _rp

    orphan = _rp(spark, poisoned, cfg, use_html=True)
    orphan.records.write.mode("overwrite").parquet(
        str(tmp_path / "state" / "records" / "batch_1")
    )
    meta_before = json.load(open(str(tmp_path / "state" / "meta.json")))
    assert meta_before["batches"] == [0]  # orphan not committed

    # the at-least-once replay: same batch_id, full delta
    res.process_batch(delta_df, 1)
    meta = json.load(open(str(tmp_path / "state" / "meta.json")))
    assert meta["batches"] == [0, 1]
    assert meta["n_records"] == wp.count()
    stored = spark.read.parquet(
        str(tmp_path / "state" / "records" / "batch_0"),
        str(tmp_path / "state" / "records" / "batch_1"),
    )
    assert stored.where(F.col("url").contains("orphan.example")).count() == 0
    assert stored.count() == wp.count()  # no divergence: every url stored

    # a second delivery of the committed batch is a no-op
    clusters_before = sorted(
        (r["url"], r["cluster_id"]) for r in res.clusters().collect()
    )
    res.process_batch(delta_df, 1)
    meta2 = json.load(open(str(tmp_path / "state" / "meta.json")))
    assert meta2 == meta
    clusters_after = sorted(
        (r["url"], r["cluster_id"]) for r in res.clusters().collect()
    )
    assert clusters_after == clusters_before

    # and the healed state still matches the one-shot batch partition
    batch_out = run_pipeline(spark, wp, cfg, use_html=True)

    def partition(cl):
        by = {}
        for r in cl.select("url", "cluster_id").collect():
            by.setdefault(r["cluster_id"], set()).add(r["url"])
        return {frozenset(v) for v in by.values()}

    assert partition(res.clusters()) == partition(batch_out.clusters)


def test_streaming_er_snapshot_retention(spark, tmp_path):
    """r7: the versioned snapshot families hold one full-corpus copy per
    batch, so an unpruned state dir grows O(corpus x batches) -- unbounded
    at re-crawl cadence. With snapshot_retention=1 only the newest
    committed snapshot survives each flip; the staging dirs (the corpus
    manifest) are never pruned; later deltas still resolve (they only read
    the latest snapshot) and the final partition still equals the one-shot
    batch resolution."""
    import json
    import os

    from pyspark.sql import functions as F

    from crocodile_spark.config import PipelineConfig
    from crocodile_spark.datagen import corpus_to_spark, make_corpus
    from crocodile_spark.pipeline import run_pipeline
    from crocodile_spark.streaming.incremental import StreamingEntityResolution

    wp, _, _ = corpus_to_spark(
        spark, make_corpus(n_entities=50, pages_per_entity=6, seed=77)
    )
    wp = wp.select("url", "warc_ts", "html", "text", "lang").cache()
    bucket = F.pmod(F.xxhash64("url"), F.lit(5))

    cfg = PipelineConfig()
    state = str(tmp_path / "state")
    res = StreamingEntityResolution(
        spark, state, cfg, use_html=True, snapshot_retention=1
    )
    for b, cond in enumerate([bucket <= 2, bucket == 3, bucket == 4]):
        res.process_batch(wp.where(cond), b)

    meta = json.load(open(os.path.join(state, "meta.json")))
    assert meta["batches"] == [0, 1, 2]
    for fam in ("signatures_b", "clusters_b", "token_df_b"):
        # superseded snapshots pruned, newest kept
        assert not os.path.exists(os.path.join(state, f"{fam}0")), fam
        assert not os.path.exists(os.path.join(state, f"{fam}1")), fam
        assert os.path.exists(os.path.join(state, f"{fam}2")), fam
    for staging in ("records", "static_keys"):
        # the corpus manifest is never pruned
        for b in (0, 1, 2):
            assert os.path.exists(
                os.path.join(state, staging, f"batch_{b}")
            ), (staging, b)

    batch_out = run_pipeline(spark, wp, cfg, use_html=True)

    def partition(cl):
        by = {}
        for r in cl.select("url", "cluster_id").collect():
            by.setdefault(r["cluster_id"], set()).add(r["url"])
        return {frozenset(v) for v in by.values()}

    assert partition(res.clusters()) == partition(batch_out.clusters)

    import pytest

    with pytest.raises(ValueError):
        StreamingEntityResolution(spark, state, cfg, snapshot_retention=0)
