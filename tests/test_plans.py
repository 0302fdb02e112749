"""Physical-plan quality gates: predicate pushdown, column pruning,
broadcast joins, whole-stage codegen. These assert the *plan*, not the
result -- a correct query that scans all columns or shuffles a broadcastable
dim is a perf regression this suite catches."""

from __future__ import annotations

import pytest

from crocodile_spark.plans.entry_queries import (
    q_j6_export_top1,
    q_s5_scan_filter_projection,
    q_tpch_q1,
)

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_s5_filter_pushdown_and_pruning(spark):
    df = q_s5_scan_filter_projection(spark, SF)
    plan = _formatted(df)
    # predicate reaches the parquet scan
    assert "PushedFilters" in plan
    assert "l_returnflag" in plan.split("PushedFilters")[1][:200]
    # only the needed columns are read
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "l_extendedprice" in read_schema
    assert "l_shipdate" not in read_schema  # unused column pruned


def test_tpch_q1_pushdown_and_codegen(spark):
    df = q_tpch_q1(spark, SF)
    plan = _formatted(df)
    assert "PushedFilters" in plan
    exec_plan = _plan(df)
    assert "HashAggregate" in exec_plan and "partial_sum" in exec_plan
    # AQE shows codegen only in the final (executed) plan; '*(n)' prefixes
    # mark whole-stage-codegen'd operators in the simple plan string
    df.collect()
    final_plan = _plan(df)
    assert "*(" in final_plan


def test_j6_broadcasts_small_dimension(spark):
    df = q_j6_export_top1(spark, SF)
    exec_plan = _plan(df)
    assert "BroadcastHashJoin" in exec_plan  # customer side broadcast


def test_scoring_has_no_python_udf_in_plan(spark, corpus_dfs):
    """The pairwise scoring hot path must be pure JVM (no BatchEvalPython /
    ArrowEvalPython nodes)."""
    from crocodile_spark.config import PipelineConfig
    from crocodile_spark.operators.blocking import (
        mention_signatures,
        pairs_from_signatures,
    )
    from crocodile_spark.operators.normalize_stage import normalize_pages
    from crocodile_spark.operators.scoring import score

    wp, _, _ = corpus_dfs
    cfg = PipelineConfig()
    records = normalize_pages(wp, use_html=False)  # html UDF excluded here
    sigs = mention_signatures(records, cfg)
    pairs = pairs_from_signatures(sigs, cfg)
    scored = score(pairs, sigs, cfg)
    plan = _plan(scored)
    assert "EvalPython" not in plan
    assert "PythonUDF" not in plan


def test_blocking_aggregates_are_partial(spark, corpus_dfs):
    """Key counts must show two-phase hash aggregation (map-side partial),
    the skew-immunity mechanism for COUNT."""
    from pyspark.sql import functions as F

    from crocodile_spark.operators.blocking import key_count

    df = spark.range(100).select(F.col("id").cast("string").alias("k"))
    plan = _plan(key_count(df, "k"))
    # partial_count on the map side, final count after the exchange
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan


def test_lsh_topk_scan_count_independent_of_tables(spark):
    """Single-pass gate: the ANN plan must not rescan the corpus per LSH
    table (the round-1 shape unioned 12 per-table joins). Scan-node count
    must be identical for 2 and 12 tables."""
    from pyspark.sql import functions as F

    from crocodile_spark.operators.similarity_search import lsh_topk

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = e.where(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = e.select(F.col("vec_id").alias("cand_id"), "embedding")
    plans = {}
    for nt in (2, 12):
        p = _plan(lsh_topk(q, c, k=5, num_tables=nt))
        plans[nt] = (p.count("Scan parquet"), p.count("Exchange"))
    assert plans[2] == plans[12], plans


def test_pipeline_plans_have_no_cartesian_or_forced_broadcast(spark, corpus_dfs):
    """Scale gates over the four pipeline stage plans: no CartesianProduct
    anywhere, and no broadcast hint forced on the (data-scale) signature
    join -- the strategy is AQE's call at runtime."""
    from crocodile_spark.config import PipelineConfig
    from crocodile_spark.operators.blocking import (
        mention_signatures,
        pairs_from_signatures,
    )
    from crocodile_spark.operators.clustering import cluster_records
    from crocodile_spark.operators.normalize_stage import normalize_pages
    from crocodile_spark.operators.scoring import score

    wp, _, _ = corpus_dfs
    cfg = PipelineConfig()
    records = normalize_pages(wp, use_html=False)
    sigs = mention_signatures(records, cfg)
    pairs = pairs_from_signatures(sigs, cfg)
    scored = score(pairs, sigs, cfg)
    for df in (records, sigs, pairs, scored):
        assert "CartesianProduct" not in _plan(df)
    # AQE is on and pair generation reaches the parquet-free pair join
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Co-located join primitive for the 100 TB posture: two tables
    bucketed on the join key (the Iceberg bucket(url) analog) sort-merge
    join with NO Exchange on either side."""
    import uuid

    db = f"bkt_{uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE DATABASE {db}")
    try:
        a = spark.range(0, 10000).selectExpr("CAST(id AS STRING) AS url", "id AS va")
        b = spark.range(0, 10000).selectExpr("CAST(id AS STRING) AS url", "id AS vb")
        for name, df in (("ta", a), ("tb", b)):
            (df.write.bucketBy(8, "url").sortBy("url")
               .saveAsTable(f"{db}.{name}", format="parquet", mode="overwrite"))
        j = spark.table(f"{db}.ta").join(spark.table(f"{db}.tb"), "url")
        plan = _plan(j)
        assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan
        # bucketing makes both sides pre-partitioned: no shuffle anywhere
        assert "Exchange hashpartitioning" not in plan, plan
        assert j.count() == 10000
    finally:
        spark.sql(f"DROP DATABASE {db} CASCADE")


def test_facade_onboard_plan_is_distributed(spark):
    """r3 gate: CrocodileSpark.onboard over a Spark-DataFrame input must
    not funnel the table through one partition -- the sequential row id is
    a partition-local window + broadcast offset map, never a global sort
    or a single-partition exchange."""
    from pyspark.sql import functions as F

    from crocodile_spark.api import CrocodileSpark

    sdf = spark.range(0, 10_000, 1, 8).select(
        F.concat(F.lit("name "), F.col("id").cast("string")).alias("film"),
        (F.col("id") % 100).cast("string").alias("year"),
    )
    kb = spark.createDataFrame(
        [("Q1", "name 1", "d", 0.1)],
        "qid string, name string, description string, popularity double",
    )
    onboarded = CrocodileSpark(
        input_csv=sdf, kb=kb, spark=spark,
        columns_type={"NE": {"0": "OTHER"}, "LIT": {"1": "NUMBER"}, "IGNORED": []},
    ).onboard()
    plan = _plan(onboarded)
    assert "Exchange SinglePartition" not in plan
    assert "Sort [" not in plan or "Sort [__croco_part" in plan  # no global sort
    # and the ids are dense over all 8 input partitions
    ids = sorted(r["row_id"] for r in onboarded.select("row_id").collect())
    assert ids == list(range(10_000))
