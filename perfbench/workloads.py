"""The benchmark's workloads: seeded inputs, one timed iteration, output
checks and the traced variant of the iteration.

Each workload drives the public crocodile_spark API. ``iterate`` is the
timed unit; ``traced`` calls the same public functions one by one, in the
order the library itself calls them, and materializes each step the same
way, inside a span per call.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from crocodile_spark.config import PipelineConfig
from crocodile_spark.datagen import corpus_to_spark, make_corpus
from crocodile_spark.lakehouse import Lakehouse
from crocodile_spark.operators import dedup, similarity_search
from crocodile_spark.operators.blocking import (
    blocking_keys,
    cap_blocks,
    mention_signatures,
    pairs_from_signatures,
    static_keys,
    token_document_frequencies,
)
from crocodile_spark.operators.clustering import cluster_records
from crocodile_spark.operators.incremental_er import (
    broadcast_if_small,
    delta_pairs,
    incremental_signatures,
    merge_clusters,
)
from crocodile_spark.operators.normalize_stage import normalize_pages
from crocodile_spark.operators.scoring import score
from crocodile_spark.pipeline import evaluate_pairwise_f1, run_pipeline

from tracing import Tracer

# A run fails its output check below this pairwise F1 (ER workloads).
MIN_PAIRWISE_F1 = 0.99


@dataclass
class Inputs:
    frames: dict
    records: int
    input_bytes: int

    def release(self) -> None:
        for df in self.frames.values():
            if isinstance(df, DataFrame):
                df.unpersist()


def _hash_agg(df: DataFrame, cols: list[str]) -> tuple[int, int]:
    """(row count, order-insensitive checksum) of ``cols``."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*[F.col(c) for c in cols])).alias("h"),
    ).first()
    return int(r["n"]), int(r["h"] or 0)


def _checkpoint(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def _clusters_summary(clusters: DataFrame) -> dict:
    r = clusters.agg(
        F.countDistinct("cluster_id").alias("clusters"),
        F.bit_xor(F.xxhash64("url", "cluster_id")).alias("h"),
    ).first()
    return {"clusters": int(r["clusters"]), "clusters_checksum": int(r["h"] or 0)}


def _scored_summary(scored: DataFrame) -> dict:
    r = scored.agg(
        F.count(F.lit(1)).alias("pairs"),
        F.sum(F.col("is_edge").cast("long")).alias("edges"),
        F.bit_xor(F.xxhash64("url_a", "url_b", "is_edge")).alias("h"),
    ).first()
    return {
        "candidate_pairs": int(r["pairs"]),
        "accepted_edges": int(r["edges"] or 0),
        "pairs_checksum": int(r["h"] or 0),
    }


def _topk_recall_er(scored: DataFrame, gold: DataFrame, k: int = 5) -> float:
    """Linkage recall@k: for each record, the share of its gold matches
    among its ``k`` best-scored candidates, the denominator capped at
    ``k``; pooled over records with at least one gold match in scope."""
    both = scored.select(
        F.col("url_a").alias("q"), F.col("url_b").alias("c"), "score"
    ).unionByName(
        scored.select(F.col("url_b").alias("q"), F.col("url_a").alias("c"), "score")
    )
    pos = gold.where(F.col("label") == 1)
    pos = pos.select(F.col("url_a").alias("q"), F.col("url_b").alias("c")).unionByName(
        pos.select(F.col("url_b").alias("q"), F.col("url_a").alias("c"))
    ).withColumn("pos", F.lit(1))
    w = Window.partitionBy("q").orderBy(F.desc("score"), F.asc("c"))
    ranked = (
        both.join(pos, ["q", "c"], "left")
        .withColumn("pos", F.coalesce("pos", F.lit(0)))
        .withColumn("rank", F.row_number().over(w))
    )
    per_q = ranked.groupBy("q").agg(
        F.sum(F.when(F.col("rank") <= k, F.col("pos")).otherwise(0)).alias("hits"),
        F.least(F.sum("pos"), F.lit(k)).alias("denom"),
    )
    r = per_q.where(F.col("denom") > 0).agg(
        F.sum("hits").alias("h"), F.sum("denom").alias("d")
    ).first()
    return float(r["h"]) / float(r["d"]) if r["d"] else 0.0


class ErBatch:
    """Dense short-text corpus through the in-memory ``run_pipeline``."""

    name = "er_batch"
    # 50 entities x 25 pages, 2-6 filler tokens, +5% exact duplicates:
    # pair generation, scoring and connected components carry the run
    corpus_args = dict(n_entities=50, pages_per_entity=25, filler_range=(2, 6))
    use_html = False

    def __init__(self, spark, seed: int, work_dir: str):
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        self.cfg = PipelineConfig()

    def build_inputs(self) -> Inputs:
        corpus = make_corpus(seed=self.seed, **self.corpus_args)
        pages, _kb, gold = corpus_to_spark(self.spark, corpus)
        pages = pages.persist()
        n = pages.count()
        gold = gold.persist()
        gold.count()
        text_bytes = sum(len(t.encode("utf-8")) for t in corpus.web_pages["text"])
        return Inputs({"pages": pages, "gold": gold}, n, text_bytes)

    def iterate(self, inp: Inputs):
        out = run_pipeline(self.spark, inp.frames["pages"], self.cfg, self.use_html)
        return replace(out, clusters=_checkpoint(out.clusters))

    def summarize(self, inp: Inputs, out) -> dict:
        """Amount of work and output checksums of one iteration."""
        return {**_scored_summary(out.scored), **_clusters_summary(out.clusters)}

    @staticmethod
    def pairs_done(summary: dict) -> int:
        return summary["candidate_pairs"]

    def quality(self, inp: Inputs, out) -> dict:
        f1 = evaluate_pairwise_f1(out.clusters, inp.frames["gold"], out.pairs)["f1"]
        return {
            "pairwise_f1": f1,
            "recall_at_5": _topk_recall_er(out.scored, inp.frames["gold"]),
            "ok": f1 >= MIN_PAIRWISE_F1,
        }

    # -- traced ------------------------------------------------------------
    def traced(self, inp: Inputs, tracer: Tracer):
        """The ephemeral branch of ``run_pipeline``, one span per step."""
        cfg, pages = self.cfg, inp.frames["pages"]
        with tracer.span("pipeline") as root:
            with tracer.span("normalize_stage.normalize") as s_norm:
                records = _checkpoint(normalize_pages(pages, self.use_html))
            with tracer.span("blocking.signatures") as s_sig:
                sigs = _checkpoint(mention_signatures(records, cfg))
            with tracer.span("blocking.pairs") as s_pairs:
                pairs = _checkpoint(pairs_from_signatures(sigs, cfg))
            with tracer.span("scoring.score") as s_score:
                scored = _checkpoint(score(pairs, sigs, cfg))
            with tracer.span("clustering.cluster") as s_cl:
                clusters = _checkpoint(
                    cluster_records(records, scored, max_iterations=cfg.max_cc_iterations)
                )
        tracer.aux()
        for s, df in (
            (s_norm, records),
            (s_sig, sigs),
            (s_pairs, pairs),
            (s_score, scored),
            (s_cl, clusters),
        ):
            s.rows_out = df.count()
        n_edges = scored.where(F.col("is_edge")).count()
        self._last_traced = {
            "sigs": sigs,
            "clusters": clusters,
            "clusters_summary": _clusters_summary(clusters),
            "pairs": s_pairs.rows_out,
        }
        ratios = {
            "blocking.pairs_per_record": s_pairs.rows_out / max(s_norm.rows_out, 1),
            "scoring.edge_accept_frac": n_edges / max(s_pairs.rows_out, 1),
        }
        return root, ratios

    def traced_once(self, inp: Inputs, tracer: Tracer) -> tuple[list, dict, list]:
        """The Lakehouse branch and the incremental delta path, traced once
        each over the same corpus, after ``traced`` ran. Returns (root
        spans, ratios, failed checks)."""
        roots, ratios, failures = [], {}, []
        batch = self._last_traced
        keys = blocking_keys(batch["sigs"], self.cfg)
        n_keys = keys.count()
        ratios["blocking.keys_dropped_frac"] = (
            1.0 - cap_blocks(keys, self.cfg).count() / n_keys if n_keys else 0.0
        )

        root, lake_ratios, lake_clusters = self._traced_durable(inp, tracer)
        roots.append(root)
        ratios.update(lake_ratios)
        if lake_clusters != batch["clusters_summary"]:
            failures.append("durable clusters differ from the in-memory run")

        root, inc_pairs, same, refines = self._traced_incremental(inp, tracer)
        roots.append(root)
        ratios["incremental_er.delta_pair_frac"] = inc_pairs / max(batch["pairs"], 1)
        if not (same or refines):
            failures.append(
                "incremental partition neither equals nor is refined by the batch run"
            )
        return roots, ratios, failures

    def _traced_durable(self, inp: Inputs, tracer: Tracer):
        """``run_pipeline`` with a Lakehouse ``checkpoint_dir``: the
        stage order of its Lakehouse branch, one span per stage call."""
        root_dir = os.path.join(self.work_dir, "lakehouse")
        shutil.rmtree(root_dir, ignore_errors=True)
        cfg = replace(self.cfg, checkpoint_dir=root_dir)
        pages = inp.frames["pages"]
        lake = Lakehouse(self.spark, root_dir)
        with tracer.span("pipeline.durable") as root:
            with tracer.span("lakehouse.run_stage") as s_rec:
                r = lake.run_stage("records", lambda: normalize_pages(pages, self.use_html))
            with tracer.span("lakehouse.run_stage") as s_sig:
                s = lake.run_stage("signatures", lambda: mention_signatures(r.df, cfg))
            with tracer.span("lakehouse.run_stage") as s_pairs:
                p = lake.run_stage("pairs", lambda: pairs_from_signatures(s.df, cfg))
            with tracer.span("lakehouse.run_stage_bucketed") as s_sc:
                sc = lake.run_stage_bucketed(
                    "scored",
                    p.df,
                    lambda bucket: score(bucket, s.df, cfg),
                    bucket_col="url_a",
                    n_buckets=cfg.resume_buckets,
                )
            with tracer.span("lakehouse.run_stage") as s_cl:
                cl = lake.run_stage(
                    "clusters",
                    lambda: cluster_records(
                        r.df, sc.df, max_iterations=cfg.max_cc_iterations
                    ),
                )
        tracer.aux()
        for span, res in ((s_rec, r), (s_sig, s), (s_pairs, p), (s_sc, sc), (s_cl, cl)):
            span.rows_out = res.rows
        n_bytes = n_files = 0
        for dirpath, _dirs, files in os.walk(root_dir):
            for fn in files:
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(dirpath, fn))
        summary = _clusters_summary(cl.df)
        shutil.rmtree(root_dir, ignore_errors=True)
        ratios = {
            "lakehouse.bytes_written": n_bytes,
            "lakehouse.files_written": n_files,
            "lakehouse.write_amplification": n_bytes / max(inp.input_bytes, 1),
        }
        return root, ratios, summary

    def _traced_incremental(self, inp: Inputs, tracer: Tracer):
        """A 20% delta (by url hash) resolved by the steps of
        ``incremental_er`` against a base resolved untraced, with the
        stored state an incremental deployment keeps. Checked against the
        traced batch run over the whole corpus."""
        cfg, pages = self.cfg, inp.frames["pages"]
        is_new = F.pmod(F.xxhash64("url"), F.lit(5)) == 0
        base_pages = pages.where(~is_new)
        new_pages = pages.where(is_new)
        base = run_pipeline(self.spark, base_pages, cfg, self.use_html)
        base_clusters = _checkpoint(base.clusters)
        stored_keys = _checkpoint(static_keys(base.signatures, cfg))
        stored_df = _checkpoint(token_document_frequencies(base.records, cfg))
        n_old = base.records.count()

        with tracer.span("incremental_er") as root:
            with tracer.span("incremental_er.normalize") as s_norm:
                delta = normalize_pages(new_pages, self.use_html)
                guard = broadcast_if_small(base.records.select("url"), "url", n_old, cfg)
                delta = delta.join(guard, "url", "left_anti").persist()
                n_delta = delta.count()
            new_urls = delta.select("url")
            with tracer.span("incremental_er.signatures") as s_sig:
                sigs = incremental_signatures(
                    base.records, base.signatures, stored_df, n_old, delta, n_delta, cfg
                )
                if sigs is None:
                    sigs = mention_signatures(
                        base.records.select(*delta.columns).unionByName(delta), cfg
                    )
                sigs = sigs.persist()
                sigs.count()
            with tracer.span("incremental_er.delta_pairs") as s_pairs:
                cached = delta_pairs(sigs, new_urls, cfg, stored_keys).persist()
                cached.count()
                pairs = _checkpoint(cached)
                cached.unpersist()
            with tracer.span("incremental_er.score") as s_score:
                touched = _checkpoint(
                    pairs.select(F.col("url_a").alias("url"))
                    .union(pairs.select(F.col("url_b").alias("url")))
                    .distinct()
                )
                touched = broadcast_if_small(touched, "url", touched.count(), cfg)
                cached = score(pairs, sigs.join(touched, "url", "semi"), cfg).persist()
                cached.count()
                scored = _checkpoint(cached)
                cached.unpersist()
            with tracer.span("incremental_er.merge") as s_merge:
                clusters = _checkpoint(
                    merge_clusters(
                        base_clusters,
                        new_urls,
                        scored.where(F.col("is_edge")).select("url_a", "url_b"),
                        cfg.max_cc_iterations,
                    )
                )
        tracer.aux()
        s_norm.rows_out = n_delta
        for span, df in ((s_sig, sigs), (s_pairs, pairs), (s_score, scored), (s_merge, clusters)):
            span.rows_out = df.count()

        full = self._last_traced["clusters"]
        same = _clusters_summary(clusters) == self._last_traced["clusters_summary"]
        joined = full.select("url", F.col("cluster_id").alias("cid_full")).join(
            clusters.select("url", F.col("cluster_id").alias("cid_inc")), "url"
        )
        refines = (
            joined.groupBy("cid_full")
            .agg(F.countDistinct("cid_inc").alias("n"))
            .where(F.col("n") > 1)
            .limit(1)
            .count()
            == 0
        )
        for df in (delta, sigs, *getattr(sigs, "_inc_persisted", ())):
            df.unpersist()
        return root, s_pairs.rows_out, same, refines


class NearDupAnn:
    """Seeded embeddings through the near-dup and ANN operators."""

    name = "near_dup_ann"
    # 60 entities x 8 pages of 40-120 filler tokens, dim-32 embeddings,
    # +5% exact duplicates (the planted near-dup gold); 128 ANN queries,
    # so one missed neighbour moves recall_at_5 by 1/1280
    corpus_args = dict(
        n_entities=60, pages_per_entity=8, filler_range=(40, 120), embedding_dim=32
    )
    n_queries = 128
    k = 5

    def __init__(self, spark, seed: int, work_dir: str):
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir

    def build_inputs(self) -> Inputs:
        pdf = make_corpus(seed=self.seed, **self.corpus_args).web_pages
        pdf = pdf.sort_values("url", ignore_index=True)
        pdf["doc_id"] = range(len(pdf))
        docs = self.spark.createDataFrame(
            pdf[["doc_id", "url", "text", "embedding"]],
            "doc_id long, url string, text string, embedding array<double>",
        ).persist()
        n = docs.count()
        q_ids = pdf["doc_id"].sample(n=self.n_queries, random_state=self.seed).tolist()
        queries = (
            docs.where(F.col("doc_id").isin(q_ids))
            .select(F.col("doc_id").alias("query_id"), "embedding")
            .persist()
        )
        queries.count()
        corpus = docs.select(F.col("doc_id").alias("cand_id"), "embedding").persist()
        corpus.count()
        exact = _checkpoint(
            similarity_search.brute_force_topk(queries, corpus, k=self.k)
        )
        centroids = similarity_search.train_ivf_centroids(
            corpus, id_col="cand_id", n_centroids=16
        )
        # gold near-duplicates: every pair of documents with identical text
        gold = set()
        for ids in pdf.groupby("text")["doc_id"]:
            members = sorted(ids[1].tolist())
            gold.update(
                (a, b) for i, a in enumerate(members) for b in members[i + 1:]
            )
        dim = self.corpus_args["embedding_dim"]
        n_bytes = sum(len(t.encode("utf-8")) for t in pdf["text"]) + 8 * len(pdf) * dim
        return Inputs(
            {
                "docs": docs,
                "queries": queries,
                "corpus": corpus,
                "exact": exact,
                "centroids": centroids,
                "gold": gold,
            },
            n,
            n_bytes,
        )

    def _steps(self, inp: Inputs):
        """(span name, thunk) per operator call, in a fixed order."""
        f = inp.frames
        docs = f["docs"]
        out = {}

        def keep_first():
            near = (
                out["minhash"].select("id_a", "id_b")
                .union(out["simhash"].select("id_a", "id_b"))
                .union(out["embedding"].select("id_a", "id_b"))
                .distinct()
            )
            return dedup.dedup_keep_first(docs.select("doc_id"), near, "doc_id")

        steps = [
            ("dedup.minhash", "minhash", lambda: dedup.minhash_lsh_pairs(docs, "text", "doc_id")),
            ("dedup.simhash", "simhash", lambda: dedup.simhash_pairs(docs, "text", "doc_id")),
            (
                "dedup.embedding",
                "embedding",
                lambda: dedup.embedding_near_dup_pairs(docs, "embedding", "doc_id"),
            ),
            ("dedup.keep_first", "kept", keep_first),
            (
                "similarity_search.lsh_topk",
                "lsh",
                lambda: similarity_search.lsh_topk(f["queries"], f["corpus"], k=self.k),
            ),
            (
                "similarity_search.ivf_topk",
                "ivf",
                lambda: similarity_search.ivf_topk(
                    f["queries"], f["corpus"], f["centroids"], k=self.k
                ),
            ),
        ]
        return steps, out

    def iterate(self, inp: Inputs) -> dict:
        steps, out = self._steps(inp)
        for _span, key, fn in steps:
            out[key] = _checkpoint(fn())
        return out

    def summarize(self, inp: Inputs, out: dict) -> dict:
        s = {}
        for key, cols in (
            ("minhash", ["id_a", "id_b"]),
            ("simhash", ["id_a", "id_b"]),
            ("embedding", ["id_a", "id_b"]),
            ("kept", ["doc_id"]),
            ("lsh", ["query_id", "cand_id", "rank"]),
            ("ivf", ["query_id", "cand_id", "rank"]),
        ):
            s[f"{key}_rows"], s[f"{key}_checksum"] = _hash_agg(out[key], cols)
        return s

    @staticmethod
    def pairs_done(summary: dict) -> int:
        return sum(
            summary[f"{k}_rows"] for k in ("minhash", "simhash", "embedding", "lsh", "ivf")
        )

    def quality(self, inp: Inputs, out: dict) -> dict:
        gold = inp.frames["gold"]
        pred = set()
        for key in ("minhash", "simhash", "embedding"):
            pred.update(
                (r["id_a"], r["id_b"]) for r in out[key].select("id_a", "id_b").collect()
            )
        tp = len(pred & gold)
        precision = tp / len(pred) if pred else 0.0
        recall = tp / len(gold) if gold else 0.0
        f1 = 2 * precision * recall / (precision + recall) if tp else 0.0
        exact = inp.frames["exact"]
        recall5 = (
            similarity_search.recall_at_k(out["lsh"], exact)
            + similarity_search.recall_at_k(out["ivf"], exact)
        ) / 2
        return {"pairwise_f1": f1, "recall_at_5": recall5, "ok": True}

    def traced(self, inp: Inputs, tracer: Tracer):
        steps, out = self._steps(inp)
        spans = {}
        with tracer.span("iteration") as root:
            for name, key, fn in steps:
                with tracer.span(name) as s:
                    out[key] = _checkpoint(fn())
                spans[key] = s
        tracer.aux()
        for key, s in spans.items():
            s.rows_out = out[key].count()
        self._verified_pairs = spans["minhash"].rows_out
        return root, {}

    def traced_once(self, inp: Inputs, tracer: Tracer):
        """After ``traced`` ran: the share of MinHash candidates that pass
        the exact-Jaccard verify."""
        cand = dedup.minhash_lsh_pairs(
            inp.frames["docs"], "text", "doc_id", jaccard_threshold=None
        ).count()
        frac = self._verified_pairs / cand if cand else 0.0
        return [], {"dedup.minhash.verify_pass_frac": frac}, []


WORKLOADS = {w.name: w for w in (ErBatch, NearDupAnn)}
