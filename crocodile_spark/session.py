"""SparkSession factory tuned for this engine.

Local-mode defaults follow the public Spark tuning guidance: shuffle
partitions ~ cores, AQE on (runtime coalesce + skew-join), Arrow enabled for
pandas-UDF batches, UTC session timezone so DuckDB oracle comparisons are
stable.

Python workers fork from ``crocodile_spark.worker_daemon``
(``spark.python.daemon.module``) instead of ``pyspark.daemon``. PySpark's
worker calls ``importlib.invalidate_caches()`` at every task start, and on
CPython 3.11 that re-reads the central directory of every zip archive on
the worker path (``pyspark.zip``, py4j, the Spark jar): 160-250 ms per
task before the UDF runs, on the critical path of every Arrow kernel. The
daemon re-reads an archive only when its mtime or size changed, so a
rewritten ``--py-files`` zip still re-imports.

The engine runs as many small Catalyst plans (the pipeline stages, dedup,
ANN, Lakehouse and incremental operators), so at benchmark sizes their
cost is orchestration, and Janino compiling generated classes is a large
share of it. Spark caches the compiled classes by source text, but the
cache (``spark.sql.codegen.cache.maxEntries``) defaults to 100 entries,
while one session of a benchmark workload generates 117-280 distinct
classes: each class was evicted before its next use, and every
steady-state iteration recompiled 53-159 of them. With
``CODEGEN_CACHE_MAX_ENTRIES`` a second call of any operator in a session
compiles nothing. The first call still compiles. The setting is a static
SQL conf: it applies only when ``get_spark`` creates the first session in
the JVM. Generated class names also leave out the whole-stage codegen
stage id (``spark.sql.codegen.useIdInClassName``). The id is part of the
cached source text, and a query's stages do not always get the same ids
(two ``er_batch`` stages swapped theirs in a later iteration), so with the
id in the name a renumbered stage compiles again, and equal stages of
different queries each compile a class of their own.

PySpark's per-call origin capture
(``spark.python.sql.dataFrameDebugging.enabled``) is off. With it on,
every Column builder (``F.col``, ``F.when``, ...) records its Python call
site in the JVM over py4j: ``F.col`` took 1.2-1.5 ms instead of
0.24-0.30 ms, and building the signature or score stage's plan took
0.35-0.42 s instead of 0.21-0.28 s. The trade-off: an error raised from a
plan built in Python no longer names the Python line in its DataFrame
query context.
"""

from __future__ import annotations

import os

import pandas as pd  # module-level so pandas_udf type hints resolve

from pyspark.sql import SparkSession

# Entries of Spark's generated-class cache (static
# ``spark.sql.codegen.cache.maxEntries``, default 100). Sized by measurement
# (BENCH.md "Generated-code cache"): distinct classes one session compiles
# from its start through one warm iteration, local[4] on a 4-vCPU host,
# Spark 4.1.2, stage ids left out of class names:
#   perfbench er_batch         117
#   perfbench near_dup_ann     179
#   bench.py pass at sf0.01    280
# Guava splits the bound over 4 segments and evicts per segment, so the
# 100-entry default thrashes at any of these sizes. 1,000 gives each
# segment about 3.5x the largest count's share; Metaspace stayed at
# 166-174 MB with either size.
CODEGEN_CACHE_MAX_ENTRIES = 1000


def _package_parent() -> str:
    """Directory containing the crocodile_spark package (repo root)."""
    import crocodile_spark

    return os.path.dirname(os.path.dirname(os.path.abspath(crocodile_spark.__file__)))


def get_spark(
    app_name: str = "croco-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = os.cpu_count() or 8
    # Executor python workers must be able to unpickle our pandas UDFs even
    # when the driver script runs from another cwd. On a real cluster this
    # is `spark-submit --py-files`; locally we put the repo root on the
    # worker PYTHONPATH.
    pkg_root = _package_parent()
    env_pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in env_pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{env_pp}" if env_pp else pkg_root
        )
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        # match parallelism to cores in local mode (not the 200 default)
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cores if n in ("", "*") else int(n)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.python.daemon.module", "crocodile_spark.worker_daemon")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    # Shuffle files on tmpfs when available: local-mode shuffles are
    # disk-bound on the default /tmp block device. (On a real cluster the
    # equivalent is fast local SSD / disaggregated shuffle service.)
    shm = os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local")
    try:
        os.makedirs(shm, exist_ok=True)
        b = b.config("spark.local.dir", shm)
    except OSError:
        pass
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _prewarm_python_workers(spark)
    return spark


def _prewarm_python_workers(spark: SparkSession) -> None:
    """Fork the Python UDF daemon + one worker per task slot at session
    build, so the FIRST pandas-UDF query does not pay the fork/import cost
    (pyarrow+pandas import is ~1-2 s across a 32-slot local master). The
    production analog is executor warmup; workers are reused afterwards
    (spark.python.worker.reuse default). Starting the daemon here also
    stamps its zip importers once (``worker_daemon.main``), so no task of
    a forked worker re-reads an unchanged archive. Guarded by
    ``spark.croco.prewarmPython`` (default true); failures are benign --
    the first real UDF job simply pays the fork as before."""
    try:
        if (
            str(spark.conf.get("spark.croco.prewarmPython", "true")).lower()
            != "true"
        ):
            return
        import pandas as _pd  # noqa: F401  (driver side, already imported)
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        @F.pandas_udf(T.LongType())
        def _noop(x: pd.Series) -> pd.Series:
            return x

        n = spark.sparkContext.defaultParallelism
        spark.range(0, n, 1, n).select(_noop("id")).write.format("noop").mode(
            "overwrite"
        ).save()
        # touch the parquet reader+writer once: Hadoop FS / parquet-mr
        # class-init otherwise lands on the session's FIRST real parquet
        # query (~0.8 s, measured). Session-private path, removed after.
        import shutil
        import tempfile

        pq = tempfile.mkdtemp(prefix="croco_pq_warm_")
        try:
            spark.range(1).write.mode("overwrite").parquet(pq)
            spark.read.parquet(pq).collect()
        finally:
            shutil.rmtree(pq, ignore_errors=True)
    except Exception:
        pass  # warmup must never break session creation
