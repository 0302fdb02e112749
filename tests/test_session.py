"""``get_spark``: its default size follows the CPUs this process may use,
and session start runs no Spark job while pandas UDFs run afterwards in
workers forked from ``crocodile_spark.worker_daemon``."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from crocodile_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_available_cpus_reads_the_affinity_set(monkeypatch):
    monkeypatch.setattr(os, "cpu_count", lambda: 64)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 5, 9}, raising=False)
    assert session.available_cpus() == 3
    monkeypatch.delattr(os, "sched_getaffinity", raising=False)
    assert session.available_cpus() == 64


# Runs in a fresh interpreter and JVM, limited to two CPUs: a session at
# the default master, then one pandas UDF reporting the command line of
# its worker's parent process.
_PROBE = """
import json, os, sys
sys.path.insert(0, sys.argv[1])
os.sched_setaffinity(0, sorted(os.sched_getaffinity(0))[:2])
import pandas as pd
from pyspark.sql import functions as F
from crocodile_spark.session import get_spark

spark = get_spark(app_name="session-start-probe")
sc = spark.sparkContext
jobs_at_start = len(sc.statusTracker().getJobIdsForGroup())


@F.pandas_udf("string")
def worker_parent(x: pd.Series) -> pd.Series:
    with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
        cmd = f.read().replace(b"\\0", b" ").decode()
    return pd.Series([cmd] * len(x))


parents = {r[0] for r in spark.range(0, 4, 1, 2).select(worker_parent("id")).collect()}
print(json.dumps({
    "master": sc.master,
    "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    "jobs_at_start": jobs_at_start,
    "jobs_after_udf": len(sc.statusTracker().getJobIdsForGroup()),
    "worker_parents": sorted(parents),
}))
spark.stop()
"""


def test_fresh_session_runs_no_job_and_forks_workers_on_first_udf():
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_MASTER"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    p = subprocess.run(
        [sys.executable, "-c", _PROBE, ROOT],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
        timeout=300,
        env=env,
        cwd=ROOT,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    got = json.loads(p.stdout.strip().splitlines()[-1])
    cpus = min(2, session.available_cpus())
    assert got["master"] == f"local[{cpus}]"
    assert got["shuffle_partitions"] == str(cpus)
    assert got["jobs_at_start"] == 0
    assert got["jobs_after_udf"] == 1
    assert got["worker_parents"]
    assert all("crocodile_spark.worker_daemon" in c for c in got["worker_parents"])
