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

Session start runs no Spark job: the daemon and its workers fork on the
first pandas-UDF task and are reused after it, and parquet's classes load
on the first parquet query. A session that does neither (the in-memory
pipeline with ``use_html=False``) pays for neither. A caller that times
single queries warms both itself first, as ``bench.py`` does.

The engine runs as many small Catalyst plans (the pipeline stages, dedup,
ANN, Lakehouse and incremental operators), so at benchmark sizes their
cost is orchestration. Part of it is on the Python side: every Column
node is one py4j round trip, so the normalize, blocking and scoring
stages build their stage-invariant expressions once per process
(``functools.cache`` builders keyed on the config values they read) and
only compose DataFrames per call. Rebuilding them on every call cost
about 2,500 round trips per warm ``er_batch`` iteration; composing the
cached ones costs about 350. Janino compiling generated classes is
another large share. Spark caches the compiled classes by source text,
but the cache (``spark.sql.codegen.cache.maxEntries``) defaults to 100 entries,
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


def available_cpus() -> int:
    """CPUs this process may run on: its affinity set, which a cpuset or
    ``taskset`` narrows, or the host's count where the platform has no
    affinity call."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 8


def get_spark(
    app_name: str = "croco-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """The engine's session, at ``local[available_cpus()]`` with as many
    shuffle partitions unless told otherwise. It returns once the JVM and
    the session are up, having run no Spark job."""
    cores = available_cpus()
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
    return spark
