"""Incremental normalize-stage ingest via Structured Streaming.

``readStream`` over a web_pages directory -> the same frozen normalization
laws as the batch stage (the transformation is stateless, row-local) ->
``writeStream`` appending to the records table with exactly-once file-sink
semantics (checkpointLocation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from crocodile_spark.operators.normalize_stage import normalize_pages

WEB_PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)


def normalize_stream(
    spark: SparkSession, input_dir: str, use_html: bool = True
) -> DataFrame:
    """Streaming DataFrame of normalized records from a web_pages dir."""
    stream = (
        spark.readStream.schema(WEB_PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )
    return normalize_pages(stream, use_html=use_html)


def dedup_stream(stream_records: DataFrame, within: str = "24 hours") -> DataFrame:
    """Stateful streaming exact-dedup: drop re-crawled duplicate texts (same
    F3 row hash) across micro-batches. State is bounded by the watermark --
    a duplicate arriving later than ``within`` after the original is kept
    (state for its hash has been evicted), the standard bounded-state
    tradeoff for infinite streams.
    """
    return stream_records.withWatermark("warc_ts", within).dropDuplicatesWithinWatermark(
        ["row_hash"]
    )


def host_crawl_stats(stream_records: DataFrame, timeout_ms: int = 0) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState: per
    host, a running (pages_total, first_ts, last_ts) accumulator that
    survives across micro-batches -- the crawl-budget counter a 100 TB
    ingest would use to throttle hot hosts. Arrow-batched; state is one
    tiny tuple per host.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "host string, pages_total long, first_ts timestamp, last_ts timestamp"
    )
    state_schema = "pages_total long, first_ts timestamp, last_ts timestamp"

    def update(key, pdfs, state: GroupState):
        total, first_ts, last_ts = (
            state.get if state.exists else (0, None, None)
        )
        for pdf in pdfs:
            total += len(pdf)
            ts = pd.to_datetime(pdf["warc_ts"])
            if len(ts):
                mn, mx = ts.min(), ts.max()
                first_ts = mn if first_ts is None else min(first_ts, mn)
                last_ts = mx if last_ts is None else max(last_ts, mx)
        state.update((total, first_ts, last_ts))
        yield pd.DataFrame(
            {
                "host": [key[0]],
                "pages_total": [total],
                "first_ts": [first_ts],
                "last_ts": [last_ts],
            }
        )

    return (
        stream_records.groupBy("host")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def start_ingest(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    use_html: bool = True,
):
    """Start the append-only ingest query (exactly-once via checkpoint)."""
    records = normalize_stream(spark, input_dir, use_html=use_html)
    return (
        records.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


class StreamingEntityResolution:
    """The production re-crawl operating loop (r6, VERDICT r5 #8): a crawl
    stream drives :func:`incremental_er` via ``foreachBatch``, maintaining
    the full resolution state across micro-batches.

    State layout under ``state_dir`` -- the parquet emulation of Iceberg
    snapshot commits (SURVEY 1.4). Every write is keyed by the stream's
    ``batch_id`` and performed with ``mode("overwrite")``, which makes the
    whole commit IDEMPOTENT under foreachBatch's at-least-once contract:

      records/batch_{B}/     staged per-batch normalized records; the
      static_keys/batch_{B}/ stored corpus is the union of the COMMITTED
                             batch dirs listed in meta.json -- an orphan
                             dir from a failed attempt is never read and
                             is overwritten on replay
      clusters_b{B}/         versioned snapshots, one per batch -- a
      signatures_b{B}/       replayed batch overwrites its own dirs, so a
      token_df_b{B}/         partial failure before the meta flip leaves
                             no state a committed snapshot can see
      meta.json              {"last_batch_id": B, "n_records": ...,
                             "batches": [committed batch ids]} -- flipped
                             last via tmp+rename (the atomic commit); a
                             replay of an already-committed batch_id is a
                             no-op

    Batch 0 bootstraps with the full batch pipeline
    (``ResolutionState.from_pipeline``); every later batch reads the
    committed state back, resolves against it with :func:`incremental_er`
    (merged token-DF, delta-scoped rebuild) and writes the ``state`` it
    hands back: the snapshots whole, the staging dirs their delta rows.
    The partition-equivalence law
    (streamed batches == one-shot batch resolution) and the replay /
    orphan-dir idempotency laws are pytest-gated in test_streaming.py.

    Snapshot retention: the versioned snapshot families (clusters_b{B},
    signatures_b{B}, token_df_b{B}) each hold one FULL-corpus copy per
    batch, so without pruning the state dir grows as O(corpus x batches)
    -- unbounded at a re-crawl cadence. After every meta flip the loop
    deletes superseded snapshot dirs beyond the newest
    ``snapshot_retention`` committed batches (>=1; the delta path only
    ever reads the latest). Pruning runs strictly AFTER the atomic
    commit, so a crash mid-prune leaves extra dirs, never a missing
    snapshot, and a replayed prune is a no-op. The per-batch staging dirs
    (records/batch_{B}, static_keys/batch_{B}) are the corpus itself --
    union over meta's manifest -- and are never pruned.
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        cfg=None,
        use_html: bool = False,
        snapshot_retention: int = 2,
    ) -> None:
        from crocodile_spark.config import PipelineConfig

        self.spark = spark
        self.state_dir = state_dir
        self.cfg = cfg or PipelineConfig()
        self.use_html = use_html
        if snapshot_retention < 1:
            raise ValueError("snapshot_retention must be >= 1")
        self.snapshot_retention = snapshot_retention

    # -- state plumbing ----------------------------------------------------

    def _meta_path(self) -> str:
        import os

        return os.path.join(self.state_dir, "meta.json")

    def _read_meta(self) -> dict | None:
        import json
        import os

        if not os.path.exists(self._meta_path()):
            return None
        with open(self._meta_path()) as f:
            return json.load(f)

    def _commit_meta(self, meta: dict) -> None:
        import json
        import os

        os.makedirs(self.state_dir, exist_ok=True)
        tmp = self._meta_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._meta_path())  # the atomic snapshot flip

    def _p(self, name: str) -> str:
        import os

        return os.path.join(self.state_dir, name)

    def _batch_paths(self, name: str, meta: dict) -> list[str]:
        """Paths of the COMMITTED per-batch staging dirs: the stored corpus
        is assembled from meta.json's manifest (the Iceberg-manifest move),
        so orphan dirs left by a failed attempt are invisible to readers."""
        return [self._p(f"{name}/batch_{b}") for b in meta["batches"]]

    def _prune_snapshots(self, meta: dict) -> None:
        """Delete versioned snapshot dirs superseded beyond the retention
        window (the Iceberg expire_snapshots move). Called strictly after
        the meta flip; idempotent (missing dirs are fine)."""
        import shutil

        for b in meta["batches"][: -self.snapshot_retention]:
            for fam in ("signatures_b", "clusters_b", "token_df_b"):
                shutil.rmtree(self._p(f"{fam}{b}"), ignore_errors=True)

    # -- the foreachBatch callback ----------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from crocodile_spark.operators.incremental_er import (
            ResolutionState,
            incremental_er,
        )
        from crocodile_spark.pipeline import run_pipeline

        spark, cfg = self.spark, self.cfg
        meta = self._read_meta()
        if meta is not None and batch_id <= meta["last_batch_id"]:
            # at-least-once replay of an already-committed batch: no-op
            return
        if meta is None:
            out = run_pipeline(spark, batch_df, cfg, use_html=self.use_html)
            state = ResolutionState.from_pipeline(out, cfg)
            records, keys, batches = state.records, state.static_keys, []
        else:
            b_old = meta["last_batch_id"]
            prior = ResolutionState(
                records=spark.read.parquet(*self._batch_paths("records", meta)),
                clusters=spark.read.parquet(self._p(f"clusters_b{b_old}")),
                signatures=spark.read.parquet(self._p(f"signatures_b{b_old}")),
                static_keys=spark.read.parquet(
                    *self._batch_paths("static_keys", meta)
                ),
                token_df=spark.read.parquet(self._p(f"token_df_b{b_old}")),
                n_records=meta["n_records"],
            )
            inc = incremental_er(spark, prior, batch_df, cfg, use_html=self.use_html)
            state, records = inc.state, inc.delta_records
            keys = state.static_keys.join(records.select("url"), "url", "semi")
            batches = meta["batches"]

        # every write is batch-keyed + overwrite (replay-safe); the meta
        # flip is last, so an attempt that dies anywhere above leaves only
        # orphan dirs that the manifest never reads and the replay
        # overwrites
        for df, name in (
            (records, f"records/batch_{batch_id}"),
            (keys, f"static_keys/batch_{batch_id}"),
            (state.signatures, f"signatures_b{batch_id}"),
            (state.clusters, f"clusters_b{batch_id}"),
            (state.token_df, f"token_df_b{batch_id}"),
        ):
            df.write.mode("overwrite").parquet(self._p(name))
        new_meta = {
            "last_batch_id": batch_id,
            "n_records": state.n_records,
            "batches": batches + [batch_id],
        }
        self._commit_meta(new_meta)
        self._prune_snapshots(new_meta)

    def clusters(self) -> DataFrame:
        """Current (url, cluster_id) snapshot."""
        meta = self._read_meta()
        return self.spark.read.parquet(
            self._p(f"clusters_b{meta['last_batch_id']}")
        )

    def run_stream(self, input_dir: str, checkpoint_dir: str):
        """Wire a web_pages directory stream into the resolver: one file
        per micro-batch, exactly-once via the stream checkpoint."""
        pages = (
            self.spark.readStream.schema(WEB_PAGES_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(input_dir)
        )
        return (
            pages.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
