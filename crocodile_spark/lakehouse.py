"""Checkpoint lakehouse with per-partition lineage (SURVEY.md section 4.3/7).

Production target is Iceberg (partitioned ``days(warc_ts)`` + ``bucket(url)``,
MERGE INTO for upserts); this sandbox has no Iceberg runtime jar, so the same
contract is implemented over parquet directories + a ``_lineage`` parquet
table. The lineage law replaces the reference's Mongo work-queue/status
machinery (status/ml_status claims at crocodile/crocodile.py:158-173 and
crocodile/ml.py:110-128): one lineage row per (stage, partition) with row
counts and wall time; a restarted run skips stages whose lineage says DONE
(the anti-join resume of SURVEY.md section 7).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class StageResult:
    name: str
    df: DataFrame
    rows: int
    wall_s: float
    resumed: bool
    recomputed_buckets: list[int] | None = None


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


class Lakehouse:
    """Parquet-backed stage store with lineage rows and stage-level resume."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- paths -------------------------------------------------------------
    def _stage_path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _lineage_path(self) -> str:
        return os.path.join(self.root, "_lineage")

    def _marker(self, name: str) -> str:
        return os.path.join(self.root, f"_{name}.DONE.json")

    def _bucket_meta(self, name: str) -> str:
        return os.path.join(self.root, f"_{name}.BUCKETS.json")

    # -- lineage -----------------------------------------------------------
    def is_done(self, name: str) -> bool:
        return os.path.exists(self._marker(name))

    def lineage(self) -> DataFrame | None:
        p = self._lineage_path()
        if not os.path.exists(p):
            return None
        return self.spark.read.parquet(p)

    def _write_lineage_rows(
        self, name: str, part_counts: DataFrame, wall_s: float
    ) -> None:
        """Plain append of per-partition lineage rows (bucketed mode: each
        bucket commits exactly one new row, stale rows were removed by
        invalidate_buckets)."""
        (
            part_counts.withColumn("stage", F.lit(name))
            .withColumn("wall_s", F.lit(wall_s))
            .withColumn("status", F.lit("DONE"))
            .withColumn("ts", F.current_timestamp())
            .write.mode("append")
            .parquet(self._lineage_path())
        )

    def _write_stage_done_row(self, name: str, wall_s: float) -> None:
        """Sentinel lineage row (partition_id=-1, rows=0, STAGE_DONE):
        stage COMPLETION is thereby lineage-expressible. Bucketed stages
        write per-bucket DONE rows while still incomplete, so 'any DONE row
        exists' must not be read as stage completion."""
        row = self.spark.createDataFrame([(-1, 0)], "partition_id int, rows long")
        (
            row.withColumn("stage", F.lit(name))
            .withColumn("wall_s", F.lit(wall_s))
            .withColumn("status", F.lit("STAGE_DONE"))
            .withColumn("ts", F.current_timestamp())
            .write.mode("append")
            .parquet(self._lineage_path())
        )

    def _write_lineage(self, name: str, part_counts: DataFrame, wall_s: float) -> None:
        p = self._lineage_path()
        existing = self.lineage()
        if (
            existing is not None
            and existing.where(F.col("stage") == name).limit(1).count() > 0
        ):
            # stage re-execution after a kill/invalidate: replace this
            # stage's lineage rows instead of appending a duplicate set
            # (lineage totals would double-count otherwise). Materialize the
            # kept rows before overwriting the directory they were read from.
            new = (
                part_counts.withColumn("stage", F.lit(name))
                .withColumn("wall_s", F.lit(wall_s))
                .withColumn("status", F.lit("DONE"))
                .withColumn("ts", F.current_timestamp())
            )
            kept = existing.where(F.col("stage") != name).localCheckpoint(eager=True)
            kept.unionByName(new).write.mode("overwrite").parquet(p)
        else:
            self._write_lineage_rows(name, part_counts, wall_s)

    # -- stage execution with resume ---------------------------------------
    def run_stage(self, name: str, build) -> StageResult:
        """Run ``build() -> DataFrame`` unless this stage is already DONE.

        On completion the stage output is written to parquet, per-partition
        row counts go to ``_lineage``, and a DONE marker (with totals) makes
        the stage skippable on restart.
        """
        path = self._stage_path(name)
        if self.is_done(name):
            df = self.spark.read.parquet(path)
            with open(self._marker(name)) as f:
                meta = json.load(f)
            return StageResult(name, df, meta["rows"], 0.0, resumed=True)

        t0 = time.time()
        df = build()
        df.write.mode("overwrite").parquet(path)
        out = self.spark.read.parquet(path)
        # per-partition lineage of the materialized output
        part_counts = (
            out.withColumn("partition_id", F.spark_partition_id())
            .groupBy("partition_id")
            .agg(F.count(F.lit(1)).alias("rows"))
        )
        wall = time.time() - t0
        self._write_lineage(name, part_counts, wall)
        self._write_stage_done_row(name, wall)
        rows = out.count()
        with open(self._marker(name), "w") as f:
            json.dump({"stage": name, "rows": rows, "wall_s": wall}, f)
        return StageResult(name, out, rows, wall, resumed=False)

    # -- bucketed stage execution: mid-stage (per-partition) resume ---------
    def _done_buckets(self, name: str) -> set[int]:
        lin = self.lineage()
        if lin is None:
            return set()
        rows = (
            lin.where((F.col("stage") == name) & (F.col("status") == "DONE"))
            .select("partition_id")
            .collect()
        )
        return {int(r["partition_id"]) for r in rows}

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
        import shutil

        shutil.rmtree(self._staging_path(name), ignore_errors=True)
        m = self._staging_marker(name)
        if os.path.exists(m):
            os.remove(m)

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
        path = self._stage_path(name)
        if self.is_done(name):
            df = self.spark.read.parquet(path).drop("part_bucket")
            with open(self._marker(name)) as f:
                meta = json.load(f)
            return StageResult(name, df, meta["rows"], 0.0, resumed=True,
                               recomputed_buckets=[])

        t0 = time.time()
        # a resume with a DIFFERENT bucket count would replay stale pmod-K
        # dirs against a pmod-N range (silently losing or duplicating rows):
        # detect via the persisted bucket meta and restart the stage clean.
        meta_path = self._bucket_meta(name)
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                recorded = json.load(f).get("n_buckets")
            if recorded != n_buckets:
                import shutil

                shutil.rmtree(path, ignore_errors=True)
                self._drop_staging(name)
                lin = self.lineage()
                if lin is not None:
                    kept = lin.where(F.col("stage") != name).localCheckpoint(
                        eager=True
                    )
                    kept.write.mode("overwrite").parquet(self._lineage_path())
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
            transform(slice_b).write.mode("overwrite").parquet(
                f"{path}/part_bucket={b}"
            )
            n = self.spark.read.parquet(f"{path}/part_bucket={b}").count()
            return b, n, time.time() - tb

        from concurrent.futures import ThreadPoolExecutor, as_completed

        workers = max(1, min(BUCKET_CONCURRENCY, len(missing)))
        with ThreadPoolExecutor(max_workers=workers) as pool:
            futs = [pool.submit(run_bucket, b) for b in missing]
            for fut in as_completed(futs):
                b, n, wall_b = fut.result()
                part_counts = self.spark.createDataFrame(
                    [(b, n)], "partition_id int, rows long"
                )
                self._write_lineage_rows(name, part_counts, wall_b)
        wall = time.time() - t0
        out = self.spark.read.parquet(path).drop("part_bucket")
        rows = out.count()
        self._write_stage_done_row(name, wall)
        with open(self._marker(name), "w") as f:
            json.dump({"stage": name, "rows": rows, "wall_s": wall}, f)
        self._drop_staging(name)
        return StageResult(name, out, rows, wall, resumed=False,
                           recomputed_buckets=missing)

    def invalidate_buckets(self, name: str, buckets: list[int]) -> None:
        """Simulate a mid-stage kill: forget specific buckets of a stage
        (drop their data dirs + lineage rows + the stage DONE marker)."""
        import shutil

        self.invalidate(name)
        for b in buckets:
            shutil.rmtree(f"{self._stage_path(name)}/part_bucket={b}", ignore_errors=True)
        lin = self.lineage()
        if lin is None:
            return
        kept = lin.where(
            ~((F.col("stage") == name) & F.col("partition_id").isin(buckets))
        ).localCheckpoint(eager=True)
        kept.write.mode("overwrite").parquet(self._lineage_path())

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
        import datetime

        lin = self.lineage()
        if lin is None:
            return []
        done = {
            r["stage"]
            for r in lin.where(F.col("status") == "STAGE_DONE")
            .select("stage").distinct().collect()
        }
        missing = [s for s in expected_stages if s not in done]
        if not missing:
            return []
        last = lin.agg(F.max("ts").alias("t")).collect()[0]["t"]
        if last is None:
            return []
        age = (datetime.datetime.now() - last).total_seconds()
        return missing if age > timeout_s else []

    def invalidate(self, name: str) -> None:
        """Simulate a mid-run kill: forget that a stage completed (marker
        plus the STAGE_DONE sentinel lineage row -- per-bucket rows stay,
        they are the resume state)."""
        m = self._marker(name)
        if os.path.exists(m):
            os.remove(m)
        lin = self.lineage()
        if lin is None:
            return
        has_sentinel = (
            lin.where(
                (F.col("stage") == name) & (F.col("status") == "STAGE_DONE")
            ).limit(1).count()
            > 0
        )
        if has_sentinel:
            kept = lin.where(
                ~((F.col("stage") == name) & (F.col("status") == "STAGE_DONE"))
            ).localCheckpoint(eager=True)
            kept.write.mode("overwrite").parquet(self._lineage_path())
