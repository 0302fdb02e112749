"""Resume semantics (SURVEY.md section 5.2 layer 4): kill after stage 2 of
4, restart, assert identical final output and no recomputation of done
stages."""

from __future__ import annotations

from pyspark.sql import functions as F

from crocodile_spark.config import PipelineConfig
from crocodile_spark.lakehouse import Lakehouse
from crocodile_spark.pipeline import run_pipeline


def test_stage_resume_and_kill_recovery(spark, corpus_dfs, tmp_path):
    wp, _, _ = corpus_dfs
    root = str(tmp_path / "lake")
    cfg = PipelineConfig(checkpoint_dir=root)

    out1 = run_pipeline(spark, wp, cfg, use_html=True)
    assert all(not s["resumed"] for s in out1.stage_stats.values())
    clusters1 = {(r["url"], r["cluster_id"]) for r in out1.clusters.collect()}

    # full resume: everything skipped
    out2 = run_pipeline(spark, wp, cfg, use_html=True)
    assert all(s["resumed"] for s in out2.stage_stats.values())

    # kill between stage 3 and 4: invalidate the last two stages
    lake = Lakehouse(spark, root)
    lake.invalidate("scored")
    lake.invalidate("clusters")
    out3 = run_pipeline(spark, wp, cfg, use_html=True)
    flags = {k: v["resumed"] for k, v in out3.stage_stats.items()}
    assert flags == {
        "records": True,
        "signatures": True,
        "pairs": True,
        "scored": False,
        "clusters": False,
    }
    clusters3 = {(r["url"], r["cluster_id"]) for r in out3.clusters.collect()}
    assert clusters1 == clusters3  # identical output after mid-stage resume

    # re-execution must REPLACE a stage's lineage rows, not append a second
    # set: totals would double-count after any kill/resume cycle otherwise
    lin = lake.lineage()
    totals = {
        r["stage"]: r["total"]
        for r in lin.groupBy("stage").agg(F.sum("rows").alias("total")).collect()
    }
    assert totals["scored"] == out3.stage_stats["scored"]["rows"]
    assert totals["clusters"] == out3.stage_stats["clusters"]["rows"]


def test_lineage_rows_written(spark, corpus_dfs, tmp_path):
    wp, _, _ = corpus_dfs
    root = str(tmp_path / "lake2")
    cfg = PipelineConfig(checkpoint_dir=root)
    run_pipeline(spark, wp, cfg, use_html=True)
    lin = Lakehouse(spark, root).lineage()
    assert lin is not None
    stages = {r["stage"] for r in lin.select("stage").distinct().collect()}
    assert stages == {"records", "signatures", "pairs", "scored", "clusters"}
    # per-partition rows with counts and wall time: DONE bucket rows plus
    # one STAGE_DONE completion sentinel per stage (rows=0)
    row = lin.first()
    assert set(lin.columns) >= {"partition_id", "rows", "stage", "wall_s", "status"}
    assert lin.where(~F.col("status").isin("DONE", "STAGE_DONE")).count() == 0
    assert lin.where(F.col("status") == "STAGE_DONE").count() == 5
    # lineage row counts sum to stage row counts
    per_stage = {
        r["stage"]: r["total"]
        for r in lin.groupBy("stage").agg(F.sum("rows").alias("total")).collect()
    }
    assert per_stage["records"] == wp.count()


def test_mid_stage_bucket_resume(spark, corpus_dfs, tmp_path):
    """North-rule literal: per-partition lineage -> a kill INSIDE a stage
    resumes by recomputing only the missing buckets, to identical output."""
    wp, _, _ = corpus_dfs
    root = str(tmp_path / "lake3")
    cfg = PipelineConfig(checkpoint_dir=root, resume_buckets=4)

    out1 = run_pipeline(spark, wp, cfg, use_html=True)
    scored1 = {
        (r["url_a"], r["url_b"]): r["is_edge"] for r in out1.scored.collect()
    }
    clusters1 = {(r["url"], r["cluster_id"]) for r in out1.clusters.collect()}

    # mid-stage kill: forget buckets 1 and 3 of the scored stage (and all of
    # clustering, which consumed it)
    lake = Lakehouse(spark, root)
    lake.invalidate_buckets("scored", [1, 3])
    lake.invalidate("clusters")

    out2 = run_pipeline(spark, wp, cfg, use_html=True)
    # only the killed buckets were recomputed
    assert out2.stage_stats["scored"]["resumed"] is False
    assert out2.stage_stats["scored"].get("recomputed_buckets") == [1, 3]
    assert out2.stage_stats["pairs"]["resumed"] is True
    scored2 = {
        (r["url_a"], r["url_b"]): r["is_edge"] for r in out2.scored.collect()
    }
    clusters2 = {(r["url"], r["cluster_id"]) for r in out2.clusters.collect()}
    assert scored1 == scored2
    assert clusters1 == clusters2
    # lineage: exactly one DONE row per (scored, bucket), no double-counting
    lin = lake.lineage()
    sc_rows = lin.where(
        (F.col("stage") == "scored") & (F.col("status") == "DONE")
    ).collect()
    assert sorted(int(r["partition_id"]) for r in sc_rows) == [0, 1, 2, 3]
    assert sum(int(r["rows"]) for r in sc_rows) == len(scored2)


def test_progress_phases_surface(spark, corpus_dfs, tmp_path):
    """Q7 SSE-progress analog: per-stage phase counters over lineage."""
    wp, _, _ = corpus_dfs
    root = str(tmp_path / "lake4")
    lake = Lakehouse(spark, root)
    # before any run: all PENDING, zero counts
    pre = {r["stage"]: r for r in lake.progress_phases().collect()}
    assert all(r["status"] == "PENDING" and r["rows_total"] == 0 for r in pre.values())
    assert pre["scored"]["phase"] == "SCORE"

    cfg = PipelineConfig(checkpoint_dir=root, resume_buckets=2)
    out = run_pipeline(spark, wp, cfg, use_html=True)
    post = {r["stage"]: r for r in lake.progress_phases().collect()}
    assert all(r["status"] == "DONE" for r in post.values())
    assert post["records"]["rows_total"] == wp.count()
    assert post["scored"]["parts_done"] == 2  # one lineage row per bucket
    assert post["clusters"]["rows_total"] == out.clusters.count()


def test_stuck_detection(spark, corpus_dfs, tmp_path):
    """Q7 STUCK law: incomplete pipeline + no lineage progress within the
    timeout -> remaining stages reported stuck; fresh lake or fresh
    progress -> none."""
    wp, _, _ = corpus_dfs
    root = str(tmp_path / "lake5")
    lake = Lakehouse(spark, root)
    assert lake.stuck_stages(timeout_s=-1.0) == []  # nothing started yet

    # run only the first stage, then stop
    from crocodile_spark.operators.normalize_stage import normalize_pages

    lake.run_stage("records", lambda: normalize_pages(wp, use_html=True))
    assert lake.stuck_stages(timeout_s=1e6) == []  # progress is recent
    stuck = lake.stuck_stages(timeout_s=-1.0)      # force-expire the timer
    assert stuck == ["signatures", "pairs", "scored", "clusters"]

    # completing everything clears STUCK regardless of timeout
    cfg = PipelineConfig(checkpoint_dir=root, resume_buckets=2)
    run_pipeline(spark, wp, cfg, use_html=True)
    assert lake.stuck_stages(timeout_s=-1.0) == []


def test_bucketed_stage_with_empty_buckets(spark, tmp_path):
    """A bucket with zero input rows must commit cleanly (schema-only
    parquet) and resume like any other."""
    root = str(tmp_path / "lake6")
    lake = Lakehouse(spark, root)
    df = spark.createDataFrame([("only-one-key", 1)], "url string, v int")
    res = lake.run_stage_bucketed(
        "s", df, lambda b: b.selectExpr("url", "v * 2 AS v2"), "url", n_buckets=8
    )
    assert res.rows == 1
    assert len(res.recomputed_buckets) == 8  # all ran, 7 empty
    res2 = lake.run_stage_bucketed(
        "s", df, lambda b: b.selectExpr("url", "v * 2 AS v2"), "url", n_buckets=8
    )
    assert res2.resumed and res2.df.count() == 1


def test_bucket_count_change_restarts_stage_clean(spark, tmp_path):
    """Resuming with a different n_buckets must NOT replay stale pmod-K
    dirs against a pmod-N range (silent loss/duplication): the stage
    restarts from scratch."""
    root = str(tmp_path / "lake7")
    lake = Lakehouse(spark, root)
    df = spark.range(100).selectExpr("CAST(id AS STRING) AS url", "id AS v")
    tf = lambda b: b.selectExpr("url", "v * 2 AS v2")  # noqa: E731

    lake.run_stage_bucketed("s", df, tf, "url", n_buckets=8)
    # kill: forget completion, keeping the 8 pmod-8 bucket dirs + lineage
    lake.invalidate("s")
    # resume with 4 buckets: old partitioning is unusable -> full restart
    res = lake.run_stage_bucketed("s", df, tf, "url", n_buckets=4)
    assert res.recomputed_buckets == [0, 1, 2, 3]
    assert res.df.count() == 100
    assert res.df.agg(F.sum("v2")).collect()[0][0] == 9900  # no dup/loss
    lin = lake.lineage()
    done = lin.where((F.col("stage") == "s") & (F.col("status") == "DONE"))
    assert sorted(int(r["partition_id"]) for r in done.collect()) == [0, 1, 2, 3]


def test_progress_reports_in_progress_for_partial_bucketed_stage(spark, tmp_path):
    """A bucketed stage with committed buckets but no completion sentinel
    is IN_PROGRESS, not DONE -- and counts as missing for STUCK."""
    root = str(tmp_path / "lake8")
    lake = Lakehouse(spark, root)
    df = spark.range(40).selectExpr("CAST(id AS STRING) AS url", "id AS v")
    lake.run_stage_bucketed("scored", df, lambda b: b, "url", n_buckets=4)
    # forget completion but keep all bucket rows (kill between last bucket
    # commit and the sentinel/marker write)
    lake.invalidate("scored")
    st = {r["stage"]: r["status"] for r in lake.progress_phases().collect()}
    assert st["scored"] == "IN_PROGRESS"
    assert "scored" in lake.stuck_stages(timeout_s=-1.0)


def _jobs_in_group(spark, fn) -> int:
    """Spark jobs ``fn()`` launches from this thread."""
    import time
    import uuid

    sc = spark.sparkContext
    group = f"lakehouse-probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "lakehouse bookkeeping probe")
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    time.sleep(0.5)  # the status tracker learns of jobs from the listener bus
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_bookkeeping_runs_no_spark_job(spark, tmp_path):
    """Lineage reads, writes and deletes run on the driver: forgetting a
    stage or bucket, the STUCK check and a resume launch no Spark job, and
    a fresh stage costs no more than writing and re-reading its output."""
    lake = Lakehouse(spark, str(tmp_path / "lake9"))
    df = spark.range(200).selectExpr("CAST(id AS STRING) AS url", "id AS v").repartition(3)
    tf = lambda b: b.selectExpr("url", "v * 2 AS v2")  # noqa: E731

    bare = str(tmp_path / "bare")
    n_bare = _jobs_in_group(
        spark, lambda: (df.write.parquet(bare), spark.read.parquet(bare))
    )
    assert _jobs_in_group(spark, lambda: lake.run_stage("a", lambda: df)) <= n_bare
    lake.run_stage_bucketed("b", df, tf, "url", n_buckets=4)

    assert _jobs_in_group(spark, lambda: lake.run_stage("a", lambda: df)) == 0
    resumed = []
    assert _jobs_in_group(
        spark, lambda: resumed.append(lake.run_stage_bucketed("b", df, tf, "url", n_buckets=4))
    ) == 0
    assert resumed[0].resumed and resumed[0].df.count() == 200
    assert _jobs_in_group(spark, lambda: lake.stuck_stages(timeout_s=-1.0)) == 0
    assert _jobs_in_group(spark, lambda: lake.invalidate_buckets("b", [1])) == 0
    assert _jobs_in_group(spark, lambda: lake.invalidate("a")) == 0


def _lineage_snapshot(root: str) -> dict:
    """lineage file name -> (sha256 of its bytes, stages it holds)."""
    import hashlib
    import os

    import pyarrow.parquet as pq

    d = os.path.join(root, "_lineage")
    snap = {}
    for f in os.listdir(d):
        if f.endswith(".parquet"):
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                digest = hashlib.sha256(fh.read()).hexdigest()
            snap[f] = (digest, frozenset(pq.read_table(p).column("stage").to_pylist()))
    return snap


def test_lineage_writes_isolated_and_crash_safe(spark, tmp_path):
    """Re-running forgotten buckets rewrites only that stage's lineage
    files, byte for byte leaving every other stage's; a leftover temp file
    from a killed lineage write is invisible to every lineage reader and
    to resume."""
    import datetime
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "lake10")
    lake = Lakehouse(spark, root)
    df = spark.range(300).selectExpr("CAST(id AS STRING) AS url", "id AS v")
    tf = lambda b: b.selectExpr("url", "v * 2 AS v2")  # noqa: E731

    def run():
        lake.run_stage("records", lambda: df)
        sc = lake.run_stage_bucketed("scored", df, tf, "url", n_buckets=4)
        lake.run_stage("clusters", lambda: sc.df.selectExpr("url", "v2 % 7 AS c"))
        return sc

    run()
    before = _lineage_snapshot(root)
    lake.invalidate_buckets("scored", [1])
    assert run().recomputed_buckets == [1]
    after = _lineage_snapshot(root)
    touched = set()
    for f in before.keys() | after.keys():
        if before.get(f) != after.get(f):
            touched |= before.get(f, (None, frozenset()))[1]
            touched |= after.get(f, (None, frozenset()))[1]
    assert touched == {"scored"}

    # a kill during a lineage write leaves a dot-prefixed temp file behind;
    # this one holds a DONE row for the bucket forgotten below
    lake.invalidate_buckets("scored", [1])
    lin_dir = os.path.join(root, "_lineage")
    planted = pa.table({
        "partition_id": pa.array([1], pa.int32()),
        "rows": pa.array([75], pa.int64()),
        "stage": ["scored"],
        "wall_s": [0.0],
        "status": ["DONE"],
        "ts": pa.array([datetime.datetime.now(datetime.timezone.utc)],
                       pa.timestamp("us", tz="UTC")),
    })
    pq.write_table(planted, os.path.join(lin_dir, "._x.tmp"))

    lin = lake.lineage()
    assert lin.where(F.col("stage") == "scored").count() == 3
    st = {r["stage"]: r for r in lake.progress_phases(("records", "scored")).collect()}
    assert st["scored"]["status"] == "IN_PROGRESS" and st["scored"]["parts_done"] == 3
    n_duck = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{lin_dir}/*.parquet')"
    ).fetchone()[0]
    assert n_duck == lin.count()

    sc = run()
    assert sc.recomputed_buckets == [1]
    assert sc.rows == 300 and sc.df.count() == 300


def test_bucket_writes_stay_in_caller_job_group(spark, tmp_path):
    """Bucket writes run on pool threads; every job a fresh bucketed stage
    launches must still belong to the caller's job group, or a
    ``cancelJobGroup`` (and any per-group job count) misses them."""
    sc = spark.sparkContext

    def last_job_id(group: str) -> int:
        sc.setJobGroup(group, group)
        spark.range(1).collect()
        return max(sc.statusTracker().getJobIdsForGroup(group))

    df = spark.range(200).selectExpr("CAST(id AS STRING) AS url", "id AS v")
    lake = Lakehouse(spark, str(tmp_path / "lake_jg"))
    try:
        first = last_job_id("bucket-jg-before")
        sc.setJobGroup("bucket-jg", "bucketed stage")
        lake.run_stage_bucketed(
            "s", df, lambda b: b.selectExpr("url", "v * 2 AS v2"), "url", n_buckets=4
        )
        last = last_job_id("bucket-jg-after")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    in_group = set(sc.statusTracker().getJobIdsForGroup("bucket-jg"))
    assert len(in_group) >= 4  # at least one write per bucket
    assert set(range(first + 1, last)) == in_group
