"""Checkpoint lakehouse with per-partition lineage (SURVEY.md section 4.3/7).

Production target is Iceberg (partitioned ``days(warc_ts)`` + ``bucket(url)``,
MERGE INTO for upserts); this sandbox has no Iceberg runtime jar, so the same
contract is implemented over parquet directories + a ``_lineage`` parquet
table. The lineage law replaces the reference's Mongo work-queue/status
machinery (status/ml_status claims at crocodile/crocodile.py:158-173 and
crocodile/ml.py:110-128): one lineage row per (stage, partition) with row
counts and wall time; a restarted run skips stages whose lineage says DONE
(the anti-join resume of SURVEY.md section 7).

Spark writes the stage data; the lineage bookkeeping runs on the driver
with pyarrow and launches no Spark job. ``_lineage/`` holds one small
parquet file per stage piece, columns ``partition_id int, rows long,
stage, wall_s, status, ts``:

- ``<stage>.parts.parquet``: one DONE row per part file of a ``run_stage``
  output; ``partition_id`` is the file's index in name order and ``rows``
  its parquet-footer row count;
- ``<stage>.bucket-<b>.parquet``: the DONE row of bucket ``b`` of a
  ``run_stage_bucketed`` stage (``partition_id`` = ``b``);
- ``<stage>.STAGE_DONE.parquet``: the completion sentinel
  (``partition_id`` -1, ``rows`` 0).

A piece is written to a dot-prefixed temp name and renamed into place, so
writing it again replaces it and forgetting it deletes it: no lineage write
touches another stage's file, and a kill mid-write leaves only a temp file
that Spark, DuckDB (``_lineage/*.parquet``) and this module all skip.
Roots written before this layout hold Spark-written lineage part files that
cannot be replaced by name; rebuild them.
"""

from __future__ import annotations

import contextlib
import datetime
import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor, as_completed
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


@dataclass
class StageResult:
    name: str
    df: DataFrame
    rows: int
    wall_s: float
    resumed: bool
    recomputed_buckets: list[int] | None = None

    def stats(self) -> dict:
        """The ``stage_stats`` entry of this stage."""
        s = {"rows": self.rows, "wall_s": self.wall_s, "resumed": self.resumed}
        if self.recomputed_buckets is not None:
            s["recomputed_buckets"] = self.recomputed_buckets
        return s


def materialize(name: str, build) -> StageResult:
    """Run ``build() -> DataFrame`` as an in-memory stage: one eager
    ``localCheckpoint``, with the row count observed on that same job.

    Stage outputs feed several consumers (pair generation scans the
    signatures once per key family; scoring joins them twice), and
    consumers of a lazy cache race to populate it, each recomputing the
    whole lineage. The checkpoint stores the rows once and cuts the
    logical plan to a scan leaf, so later planning does not re-walk every
    upstream stage. A checkpointed partition lost with its executor
    cannot be recomputed; the Lakehouse stages are the resumable mode.
    """
    t0 = time.time()
    obs = Observation()
    df = build().observe(obs, F.count(F.lit(1)).alias("rows")).localCheckpoint(eager=True)
    return StageResult(name, df, obs.get["rows"], time.time() - t0, resumed=False)


# missing buckets of run_stage_bucketed run as this many overlapped Spark
# jobs: the scheduler interleaves their tasks, filling the stage tails a
# serial loop leaves idle
BUCKET_CONCURRENCY = 4

# our stage names -> reference progress-phase names
# (crocodile_api.py:1479-1516 reports PREDICTION/ML_PREDICTION/DONE; the
# Spark pipeline's finer stages map onto the linkage phases below)
STAGE_PHASES = {
    "records": "NORMALIZE",
    "signatures": "BLOCK",
    "pairs": "BLOCK",
    "scored": "SCORE",
    "clusters": "CLUSTER",
}

LINEAGE_SCHEMA = pa.schema([
    ("partition_id", pa.int32()),
    ("rows", pa.int64()),
    ("stage", pa.string()),
    ("wall_s", pa.float64()),
    ("status", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


def _parquet_files(d: str) -> list[str]:
    """Committed parquet files of a directory in name order; Spark and
    DuckDB likewise skip ``_``/``.``-prefixed (metadata, temp) files."""
    return sorted(
        os.path.join(d, f)
        for f in os.listdir(d)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _file_rows(d: str) -> list[int]:
    """Row count of each part file of a written directory, from footers."""
    return [pq.read_metadata(f).num_rows for f in _parquet_files(d)]


def _remove(*paths: str) -> None:
    for p in paths:
        with contextlib.suppress(FileNotFoundError):
            os.remove(p)


class Lakehouse:
    """Parquet-backed stage store with lineage rows and stage-level resume."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(self._lineage_path(), exist_ok=True)

    # -- paths -------------------------------------------------------------
    def _stage_path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _lineage_path(self) -> str:
        return os.path.join(self.root, "_lineage")

    def _lineage_file(self, name: str, piece: str) -> str:
        return os.path.join(self._lineage_path(), f"{name}.{piece}.parquet")

    def _marker(self, name: str) -> str:
        return os.path.join(self.root, f"_{name}.DONE.json")

    def _bucket_meta(self, name: str) -> str:
        return os.path.join(self.root, f"_{name}.BUCKETS.json")

    # -- lineage -----------------------------------------------------------
    def is_done(self, name: str) -> bool:
        return os.path.exists(self._marker(name))

    def lineage(self) -> DataFrame | None:
        files = _parquet_files(self._lineage_path())
        return self.spark.read.parquet(*files) if files else None

    def _lineage_rows(self) -> list[dict]:
        return [
            r for f in _parquet_files(self._lineage_path())
            for r in pq.read_table(f).to_pylist()
        ]

    def _write_lineage(
        self,
        name: str,
        piece: str,
        parts: list[tuple[int, int]],
        wall_s: float,
        status: str = "DONE",
    ) -> None:
        """Commit one lineage piece: a row per (partition_id, rows) pair."""
        ts = datetime.datetime.now(datetime.timezone.utc)
        table = pa.Table.from_pylist(
            [
                {"partition_id": p, "rows": n, "stage": name, "wall_s": wall_s,
                 "status": status, "ts": ts}
                for p, n in parts
            ],
            schema=LINEAGE_SCHEMA,
        )
        tmp = os.path.join(self._lineage_path(), f".{name}.{piece}.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, self._lineage_file(name, piece))

    def _complete(self, name: str, out: DataFrame, rows: int, wall: float) -> None:
        """STAGE_DONE sentinel row, then the marker: stage COMPLETION is
        thereby lineage-expressible. Bucketed stages write per-bucket DONE
        rows while still incomplete, so 'any DONE row exists' must not be
        read as stage completion. The marker keeps the output schema so a
        resume reads the stage without a schema-inference job."""
        self._write_lineage(name, "STAGE_DONE", [(-1, 0)], wall, status="STAGE_DONE")
        with open(self._marker(name), "w") as f:
            json.dump({"stage": name, "rows": rows, "wall_s": wall,
                       "schema": out.schema.jsonValue()}, f)

    def _resumed(self, name: str) -> tuple[DataFrame, int]:
        with open(self._marker(name)) as f:
            meta = json.load(f)
        schema = StructType.fromJson(meta["schema"])
        return self.spark.read.schema(schema).parquet(self._stage_path(name)), meta["rows"]

    # -- stage execution with resume ---------------------------------------
    def run_stage(self, name: str, build) -> StageResult:
        """Run ``build() -> DataFrame`` unless this stage is already DONE.

        On completion the stage output is written to parquet, per-file
        row counts go to ``_lineage``, and a DONE marker (with totals) makes
        the stage skippable on restart.
        """
        if self.is_done(name):
            df, rows = self._resumed(name)
            return StageResult(name, df, rows, 0.0, resumed=True)

        path = self._stage_path(name)
        t0 = time.time()
        build().write.mode("overwrite").parquet(path)
        out = self.spark.read.parquet(path)
        counts = _file_rows(path)
        rows = sum(counts)
        wall = time.time() - t0
        self._write_lineage(name, "parts", list(enumerate(counts)), wall)
        self._complete(name, out, rows, wall)
        return StageResult(name, out, rows, wall, resumed=False)

    # -- bucketed stage execution: mid-stage (per-partition) resume ---------
    def _done_buckets(self, name: str) -> dict[int, int]:
        """Committed buckets of a stage -> their row counts."""
        return {
            r["partition_id"]: r["rows"]
            for r in self._lineage_rows()
            if r["stage"] == name and r["status"] == "DONE"
        }

    def _staging_path(self, name: str) -> str:
        return os.path.join(self.root, f"_{name}__staged_input")

    def _staging_marker(self, name: str) -> str:
        return os.path.join(self.root, f"_{name}.STAGED.json")

    def _stage_input_once(
        self, name: str, input_df: DataFrame, bucket_expr
    ) -> DataFrame:
        """Scan-once bucketization: the input is written ONE time,
        hive-partitioned by the bucket id, so every per-bucket read below
        is a pruned slice (1/n of the data) instead of a full rescan --
        at 100 TB the old per-bucket ``input_df.where(...)`` loop multiplied
        input scans by resume_buckets. The staged copy is transient scratch:
        deleted when the stage completes. A kill mid-staging leaves no
        marker, so the staging write itself re-runs idempotently."""
        staging = self._staging_path(name)
        if not os.path.exists(self._staging_marker(name)):
            (
                input_df.withColumn("part_bucket", bucket_expr)
                .write.mode("overwrite")
                .partitionBy("part_bucket")
                .parquet(staging)
            )
            with open(self._staging_marker(name), "w") as f:
                json.dump({"stage": name}, f)
        try:
            return self.spark.read.parquet(staging)
        except Exception:
            # an entirely empty input writes no partition dirs (schema is
            # uninferrable): fall back to the equivalent empty frame
            return input_df.withColumn("part_bucket", bucket_expr)

    def _drop_staging(self, name: str) -> None:
        shutil.rmtree(self._staging_path(name), ignore_errors=True)
        _remove(self._staging_marker(name))

    def run_stage_bucketed(
        self,
        name: str,
        input_df: DataFrame,
        transform,
        bucket_col: str,
        n_buckets: int = 4,
    ) -> StageResult:
        """Mid-stage resumable execution (SURVEY.md section 7.5, the Q1/Q2
        claim-queue analog): the input is bucketized ONCE by a hash of
        ``bucket_col`` (hive-partitioned staging write); each bucket is then
        transformed from its pruned slice and committed to its own
        subdirectory with one lineage row, so a killed run resumes by
        anti-joining DONE buckets and recomputing ONLY the missing ones --
        without rescanning the input per bucket.

        Missing buckets run overlapped (``BUCKET_CONCURRENCY`` Spark
        jobs); lineage rows are committed serially, each AFTER its
        bucket's data commit.

        Idempotence: a bucket directory is written with mode=overwrite and
        its lineage row only after the data commit, so a kill at any point
        (mid-staging, mid-write, or between data commit and lineage write)
        re-runs that piece to the identical bytes. ``transform`` must be
        bucket-local (applied independently per input slice), like the
        reference's row-batch processor.
        """
        if self.is_done(name):
            df, rows = self._resumed(name)
            return StageResult(name, df.drop("part_bucket"), rows, 0.0,
                               resumed=True, recomputed_buckets=[])

        path = self._stage_path(name)
        t0 = time.time()
        # a resume with a DIFFERENT bucket count would replay stale pmod-K
        # dirs against a pmod-N range (silently losing or duplicating rows):
        # detect via the persisted bucket meta and restart the stage clean.
        meta_path = self._bucket_meta(name)
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                recorded = json.load(f)["n_buckets"]
            if recorded != n_buckets:
                shutil.rmtree(path, ignore_errors=True)
                self._drop_staging(name)
                _remove(*(self._lineage_file(name, f"bucket-{b}") for b in range(recorded)))
        with open(meta_path, "w") as f:
            json.dump({"stage": name, "n_buckets": n_buckets}, f)

        done = self._done_buckets(name)
        missing = [b for b in range(n_buckets) if b not in done]
        bucket_expr = F.pmod(F.xxhash64(F.col(bucket_col)), F.lit(n_buckets))
        if len(missing) > 1 or os.path.exists(self._staging_marker(name)):
            staged = self._stage_input_once(name, input_df, bucket_expr)
        else:
            # recovering <=1 bucket with no staging on disk: one filtered
            # scan beats writing the whole input just to prune it once
            staged = input_df.withColumn("part_bucket", bucket_expr)

        def run_bucket(b: int) -> tuple[int, int, float]:
            tb = time.time()
            slice_b = staged.where(F.col("part_bucket") == b).drop("part_bucket")
            bucket_path = f"{path}/part_bucket={b}"
            transform(slice_b).write.mode("overwrite").parquet(bucket_path)
            return b, sum(_file_rows(bucket_path)), time.time() - tb

        # pool threads start with no job group; carry the caller's over
        run_bucket = inheritable_thread_target(self.spark)(run_bucket)
        workers = max(1, min(BUCKET_CONCURRENCY, len(missing)))
        with ThreadPoolExecutor(max_workers=workers) as pool:
            futs = [pool.submit(run_bucket, b) for b in missing]
            for fut in as_completed(futs):
                b, n, wall_b = fut.result()
                self._write_lineage(name, f"bucket-{b}", [(b, n)], wall_b)
                done[b] = n
        wall = time.time() - t0
        out = self.spark.read.parquet(path)
        rows = sum(done.values())
        self._complete(name, out, rows, wall)
        self._drop_staging(name)
        return StageResult(name, out.drop("part_bucket"), rows, wall,
                           resumed=False, recomputed_buckets=missing)

    def invalidate_buckets(self, name: str, buckets: list[int]) -> None:
        """Simulate a mid-stage kill: forget specific buckets of a stage
        (drop their data dirs + lineage rows + the stage DONE marker)."""
        self.invalidate(name)
        for b in buckets:
            shutil.rmtree(f"{self._stage_path(name)}/part_bucket={b}", ignore_errors=True)
            _remove(self._lineage_file(name, f"bucket-{b}"))

    # -- progress surface (Q7 SSE analog) -----------------------------------
    def progress_phases(
        self, expected_stages: tuple = tuple(STAGE_PHASES)
    ) -> DataFrame:
        """Q7 progress counters (crocodile_api.py:1479-1516 reports per-phase
        pending/completed at 1 Hz over SSE): per expected stage, the mapped
        phase, DONE-partition count, row total, and status; stages with no
        lineage yet report PENDING with zero counts."""
        expected = self.spark.createDataFrame(
            [(s, STAGE_PHASES.get(s, "OTHER")) for s in expected_stages],
            "stage string, phase string",
        )
        lin = self.lineage()
        if lin is None:
            return expected.select(
                "stage",
                "phase",
                F.lit(0).cast("long").alias("parts_done"),
                F.lit(0).cast("long").alias("rows_total"),
                F.lit("PENDING").alias("status"),
            )
        agg = lin.groupBy("stage").agg(
            F.sum((F.col("status") == "DONE").cast("int")).cast("long").alias(
                "parts_done"
            ),
            F.sum("rows").cast("long").alias("rows_total"),
            F.sum((F.col("status") == "STAGE_DONE").cast("int")).cast("long").alias(
                "n_complete"
            ),
        )
        # three-state law: completion = STAGE_DONE sentinel (bucketed stages
        # have DONE bucket rows while still incomplete -> IN_PROGRESS)
        return expected.join(agg, "stage", "left").select(
            "stage",
            "phase",
            F.coalesce("parts_done", F.lit(0)).cast("long").alias("parts_done"),
            F.coalesce("rows_total", F.lit(0)).cast("long").alias("rows_total"),
            F.when(F.coalesce("n_complete", F.lit(0)) > 0, F.lit("DONE"))
            .when(F.coalesce("parts_done", F.lit(0)) > 0, F.lit("IN_PROGRESS"))
            .otherwise(F.lit("PENDING"))
            .alias("status"),
        )

    def stuck_stages(
        self, timeout_s: float = 300.0, expected_stages: tuple = tuple(STAGE_PHASES)
    ) -> list[str]:
        """Q7 STUCK law (crocodile_api.py:1427-1579): while the pipeline is
        incomplete, no lineage progress for ``timeout_s`` seconds marks the
        remaining stages STUCK. Before anything has run there is no
        progress signal yet -> PENDING, not stuck."""
        rows = self._lineage_rows()
        if not rows:
            return []
        done = {r["stage"] for r in rows if r["status"] == "STAGE_DONE"}
        missing = [s for s in expected_stages if s not in done]
        if not missing:
            return []
        last = max(r["ts"] for r in rows)
        age = (datetime.datetime.now(datetime.timezone.utc) - last).total_seconds()
        return missing if age > timeout_s else []

    def invalidate(self, name: str) -> None:
        """Simulate a mid-run kill: forget that a stage completed (marker
        plus the STAGE_DONE sentinel lineage row -- per-bucket rows stay,
        they are the resume state)."""
        _remove(self._marker(name), self._lineage_file(name, "STAGE_DONE"))
