#!/usr/bin/env python
"""Scale ladder: the ER library's public entry points on datagen corpora
of growing size, with a layer table per step.

    python scripts/scale_ladder.py                    # 5,000 and 50,400 records, local[1] vs local[4]
    python scripts/scale_ladder.py --records 111132 --cores 4 --skew

Each (size, cores) cell runs in its own process and JVM with
``get_spark``'s default partitions and driver memory. A full cell runs
these steps, each in a ``perfbench.tracing`` span:

- ``inmem``: ``run_pipeline`` in memory; F1 against the planted gold.
- ``durable``: ``run_pipeline`` with a ``checkpoint_dir``; then
  ``resume_clusters`` re-runs it with only ``clusters`` invalidated, so
  that step's jobs are the cluster stage's.
- ``base``: ``run_pipeline`` over 80% of the urls (by url hash) plus its
  ``ResolutionState`` with accepted edges (static keys, token document
  frequencies and edges materialized here), shared by the next two steps.
- ``incremental``: ``incremental_er`` of the other 20%, against
  ``inmem`` (the full run over the same union).
- ``recrawl``: edge-retaining ``recrawl_upsert`` of about 5% updated base
  pages, 5% byte-identical re-fetches and the 20% new pages, against
  ``recrawl_full`` (the full run over the mutated corpus).

A step's row of the layer table has its wall, jobs, stages and tasks
(status tracker) and shuffle bytes (event log); the rows under it are its
``stage_stats``. With core levels N and 4N, each size runs the in-memory
step alone at N, 4N, N, then the full cell at 4N: alternation puts both
levels through the same host load, and the best run of each gives the
speedup, read against the raw-CPU speedup measured between the runs.

Gates (exit 1 on failure): in-memory F1 >= 0.99 in every cell; durable
and resumed clusters equal the in-memory ones; recrawl F1 at least the
full re-run's, with at most 5% of urls in clusters that differ from it.
Incremental partition equality and refinement are reported, not gated:
past the block cap a grown corpus drops edges the base had accepted
(BENCH.md "529k: the wall-clock evidence"). The last stdout line is one
JSON object with every cell.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

SEED = 42
PAGES_PER_ENTITY = 8
FILLER_RANGE = (40, 120)
# make_corpus appends exact duplicates of 5% of the pages
DUP_FRACTION = 0.05
PAGE_COLS = ("url", "warc_ts", "html", "text", "lang")
# scaling runs per level: N, 4N, N, 4N
ALTERNATIONS = 2
RECRAWL_MARKER = " recrawl revision marker"
STEP_FIELDS = ("wall_s", "jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes")


def plant_skew(corpus, dup_frac: float = 0.10, hot_token_frac: float = 0.05):
    """Adversarial skew, in place: one exact-duplicate group of
    ``dup_frac`` x the corpus on ONE host (one row-hash window partition,
    one host block far over the cap), and ' skewtok' in just under
    ``hot_token_frac`` of the final row count (a token whose df sits
    right under the distinctive cutoff). Gold pairs reference only the
    original urls, so F1 stays comparable to the benign corpus."""
    import math

    import pandas as pd

    wpdf = corpus.web_pages
    n0 = len(wpdf)
    n_dup = int(n0 * dup_frac)
    src = wpdf.iloc[0]
    dup = pd.DataFrame(
        {
            "url": [f"https://megahost.example.com/dup/{i}" for i in range(n_dup)],
            "warc_ts": [src["warc_ts"]] * n_dup,
            "html": [src["html"]] * n_dup,
            "text": [src["text"]] * n_dup,
            "lang": [src["lang"]] * n_dup,
            "entity_id": [src["entity_id"]] * n_dup,
            "mention": [src["mention"]] * n_dup,
        }
    )
    n_final = n0 + n_dup
    cutoff = math.ceil(0.05 * n_final)  # cfg.mention_df_fraction default
    # df just UNDER the distinctive cutoff; clamped -- a negative value
    # would slice from the END and stopword nearly the whole corpus
    n_hot = max(0, min(n0, cutoff - 100))
    if n_hot == 0:
        raise SystemExit(
            f"corpus too small for the skew law: cutoff {cutoff} <= 100"
        )
    idx = wpdf.index[:n_hot]
    wpdf.loc[idx, "text"] = wpdf["text"].loc[idx] + " skewtok"
    # the pipeline re-extracts text from html (use_html=True), so the
    # token must live in the html payload too
    wpdf.loc[idx, "html"] = wpdf["html"].loc[idx].map(
        lambda b: b.replace(b"</p>", b" skewtok</p>", 1)
    )
    corpus.web_pages = pd.concat([wpdf, dup], ignore_index=True)
    return {"n_dup_group": n_dup, "n_hot_token_rows": n_hot, "cutoff": cutoff}


# -- one cell, in process ------------------------------------------------------
def _assignment(clusters) -> dict:
    return {r["url"]: r["cluster_id"] for r in clusters.select("url", "cluster_id").collect()}


def _partition(assign: dict) -> set:
    by = defaultdict(set)
    for url, cid in assign.items():
        by[cid].add(url)
    return {frozenset(v) for v in by.values()}


def _refines(fine: dict, coarse: dict) -> bool:
    """Every cluster of ``fine`` lies inside one cluster of ``coarse``."""
    target: dict = {}
    return all(target.setdefault(cid, coarse.get(url)) == coarse.get(url) for url, cid in fine.items())


def run_cell(spark, n_records: int, root: str, full: bool = True, skew: bool = False) -> dict:
    """Run one ladder cell on ``spark``: the ``inmem`` step alone, or with
    ``full`` every step, with ``root`` for the Lakehouse. Returns the cell
    report; shuffle bytes stay 0 until the caller adds them from the
    event log."""
    from pyspark.sql import functions as F

    from crocodile_spark.config import PipelineConfig
    from crocodile_spark.datagen import corpus_to_spark, make_corpus
    from crocodile_spark.lakehouse import Lakehouse, materialize
    from crocodile_spark.operators.clustering import CC_DRIVER_MAX_EDGES
    from crocodile_spark.operators.incremental_er import ResolutionState, incremental_er
    from crocodile_spark.operators.recrawl import recrawl_upsert
    from crocodile_spark.pipeline import evaluate_pairwise_f1, run_pipeline
    from perfbench.tracing import Tracer

    sc = spark.sparkContext
    tracer = Tracer(sc, f"ladder-{n_records}")
    steps: dict = {}

    def step(name: str, call):
        with tracer.span(name) as span:
            out = call()
        tracer.collect_status([span])
        stats = {k: v for k, v in out.stage_stats.items() if isinstance(v, dict)}
        steps[name] = {"group": span.span_id, "stage_stats": stats,
                       **{f: getattr(span, f) for f in STEP_FIELDS}}
        return out

    n_entities = max(1, round(n_records / (PAGES_PER_ENTITY * (1 + DUP_FRACTION))))
    corpus = make_corpus(n_entities, PAGES_PER_ENTITY, SEED, filler_range=FILLER_RANGE)
    skew_info = plant_skew(corpus) if skew else None
    wp, _kb, gold = corpus_to_spark(spark, corpus)
    pages = wp.select(*PAGE_COLS)
    cfg = PipelineConfig()
    report = {"records": len(corpus.web_pages), "cores": sc.defaultParallelism,
              "skew": skew_info, "steps": steps}
    try:
        tracer.aux()
        inmem = step("inmem", lambda: run_pipeline(spark, pages, cfg))
        report["pairs"] = inmem.stage_stats["pairs"]["rows"]
        report["f1"] = evaluate_pairwise_f1(inmem.clusters, gold, inmem.pairs)["f1"]
        gates = {"f1": report["f1"] >= 0.99}
        report["gates"] = gates
        if not full:
            return report
        report["accepted_edges"] = inmem.scored.where(F.col("is_edge")).count()
        report["cc_driver_max_edges"] = CC_DRIVER_MAX_EDGES
        full_assign = _assignment(inmem.clusters)

        lake_cfg = PipelineConfig(checkpoint_dir=os.path.join(root, "lake"))
        durable = step("durable", lambda: run_pipeline(spark, pages, lake_cfg))
        gates["durable_equals_inmem"] = _assignment(durable.clusters) == full_assign
        Lakehouse(spark, lake_cfg.checkpoint_dir).invalidate("clusters")
        resumed = step("resume_clusters", lambda: run_pipeline(spark, pages, lake_cfg))
        gates["resume_equals_inmem"] = _assignment(resumed.clusters) == full_assign

        h = F.pmod(F.xxhash64("url"), F.lit(20))
        base_pages, new_pages = pages.where(h >= 4), pages.where(h < 4)
        kept = {}

        def base_with_state():
            # the stored state built once, in this step, and shared
            out = run_pipeline(spark, base_pages, cfg)
            lazy = ResolutionState.from_pipeline(out, cfg, edges=True)
            built = {
                name: materialize(name, lambda name=name: getattr(lazy, name))
                for name in ("static_keys", "token_df", "edges")
            }
            out.stage_stats.update({name: b.stats() for name, b in built.items()})
            kept["state"] = dataclasses.replace(lazy, **{name: b.df for name, b in built.items()})
            return out

        step("base", base_with_state)
        state = kept["state"]
        n_base = state.n_records

        inc = step("incremental", lambda: incremental_er(spark, state, new_pages, cfg))
        inc_assign = _assignment(inc.clusters)
        report["incremental"] = {
            "base_records": n_base,
            "delta_records": inc.stage_stats["records"]["rows"],
            "delta_pair_frac": inc.stage_stats["pairs"]["rows"] / max(report["pairs"], 1),
            "partition_identical": inc_assign == full_assign,
            "full_refines_incremental": _refines(full_assign, inc_assign),
            "n_urls_assigned_differently": sum(inc_assign.get(u) != c for u, c in full_assign.items()),
            "f1": evaluate_pairwise_f1(inc.clusters, gold, inmem.pairs)["f1"],
        }

        h2 = F.pmod(F.xxhash64("url"), F.lit(19))
        updated = base_pages.where(h2 == 3).select(
            "url", "warc_ts",
            F.encode(
                F.regexp_replace(F.decode("html", "utf-8"), "</p>", RECRAWL_MARKER + "</p>"), "utf-8"
            ).alias("html"),
            F.concat("text", F.lit(RECRAWL_MARKER)).alias("text"),
            "lang",
        )
        batch = updated.unionByName(base_pages.where(h2 == 5)).unionByName(new_pages)
        mutated = base_pages.where(h2 != 3).unionByName(updated).unionByName(new_pages)
        rc = step("recrawl", lambda: recrawl_upsert(spark, state, batch, cfg))
        rc_full = step("recrawl_full", lambda: run_pipeline(spark, mutated, cfg))
        rc_assign, rc_full_assign = _assignment(rc.clusters), _assignment(rc_full.clusters)
        n_div = sum(len(s) for s in _partition(rc_assign) ^ _partition(rc_full_assign)) // 2
        report["recrawl"] = {
            **{k: rc.stage_stats[k] for k in ("n_batch", "n_updated", "n_new_or_updated", "edge_retaining")},
            "n_records": rc.state.n_records,
            "partition_identical": rc_assign == rc_full_assign,
            "divergence_frac": n_div / max(rc.state.n_records, 1),
            "f1": evaluate_pairwise_f1(rc.clusters, gold, rc_full.pairs)["f1"],
            "f1_full_rerun": evaluate_pairwise_f1(rc_full.clusters, gold, rc_full.pairs)["f1"],
        }
        gates["recrawl_f1"] = report["recrawl"]["f1"] >= report["recrawl"]["f1_full_rerun"] - 1e-4
        gates["recrawl_divergence"] = report["recrawl"]["divergence_frac"] <= 0.05
        return report
    finally:
        sc.setJobGroup(None, None)


def cell_main(n_records: int, cores: int, full: bool, skew: bool, work: str) -> None:
    """One cell in this process: a session at local[cores] with the
    event log on; prints ``RESULT <json>``."""
    from crocodile_spark.session import get_spark
    from perfbench.eventlog import read_event_log

    ev = os.path.join(work, "eventlog")
    os.makedirs(ev)
    spark = get_spark(
        app_name=f"scale-ladder-{n_records}-{cores}",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + ev,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    try:
        report = run_cell(spark, n_records, work, full, skew)
    finally:
        spark.stop()
    (log_name,) = os.listdir(ev)
    by_group = read_event_log(os.path.join(ev, log_name))
    for s in report["steps"].values():
        g = by_group.get(s["group"], {})
        s["shuffle_read_bytes"] = g.get("shuffle_read_bytes", 0)
        s["shuffle_write_bytes"] = g.get("shuffle_write_bytes", 0)
    report["failed_tasks"] = sum(g["failed_tasks"] for g in by_group.values())
    print("RESULT " + json.dumps(report))


# -- the ladder ----------------------------------------------------------------
def run_cell_process(n_records: int, cores: int, full: bool, skew: bool, work: str) -> dict:
    cell_dir = tempfile.mkdtemp(prefix=f"cell-{n_records}-{cores}-", dir=work)
    code = (
        f"import sys; sys.path.insert(0, {HERE!r}); import scale_ladder; "
        f"scale_ladder.cell_main({n_records}, {cores}, {full}, {skew}, {cell_dir!r})"
    )
    log_path = os.path.join(work, os.path.basename(cell_dir) + ".log")
    with open(log_path, "w") as err:
        p = subprocess.run([sys.executable, "-c", code], cwd=cell_dir, stdout=subprocess.PIPE,
                           stderr=err, text=True)
    shutil.rmtree(cell_dir, ignore_errors=True)
    for line in p.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    with open(log_path) as f:
        tail = f.read()[-3000:]
    raise RuntimeError(f"cell {n_records} x local[{cores}] failed (exit {p.returncode}):\n{tail}")


def _busy(n: int) -> int:
    s = 0
    for i in range(n):
        s += i * i
    return s


def raw_cpu_throughput(workers: int, per: int = 6_000_000, rounds: int = 24) -> float:
    """Pure-Python busy-loop ops/s over ``workers`` processes. Host load
    drifts within minutes, so the ceiling is measured with the runs it
    qualifies, not quoted from another session."""
    import multiprocessing as mp

    with mp.get_context("spawn").Pool(workers) as pool:
        t0 = time.perf_counter()
        pool.map(_busy, [per] * rounds)
        return rounds * per / (time.perf_counter() - t0)


def scaling(cells: dict, levels: list[int], ceilings: list[float]) -> dict:
    """Speedup of the best in-memory run at 4N over the best at N."""
    best = {c: min(r["steps"]["inmem"]["wall_s"] for r in cells[c]) for c in levels}
    pairs = cells[levels[0]][0]["pairs"]
    ideal = levels[1] / levels[0]
    speedup = best[levels[0]] / best[levels[1]]
    ceiling = max(ceilings)
    return {
        "levels": levels,
        "inmem_wall_s": {str(c): best[c] for c in levels},
        "pairs_per_s": {str(c): pairs / best[c] for c in levels},
        "speedup": speedup,
        "ideal": ideal,
        "efficiency": speedup / ideal,
        "raw_cpu_ceiling_speedup": ceiling,
        "raw_cpu_ceiling_efficiency": ceiling / ideal,
        "efficiency_vs_measured_ceiling": speedup / ceiling,
    }


def layer_table(report: dict) -> str:
    mb = 1e6
    lines = [
        f"{report['records']:,} records, local[{report['cores']}], {report['pairs']:,} candidate pairs",
        "",
        "| step | stage | rows | wall s | jobs | stages | tasks | shuffle read MB | shuffle write MB |",
        "|---|---|--:|--:|--:|--:|--:|--:|--:|",
    ]
    for name, s in report["steps"].items():
        lines.append(
            f"| {name} | | | {s['wall_s']:.2f} | {s['jobs']} | {s['stages']} | {s['tasks']} "
            f"| {s['shuffle_read_bytes'] / mb:.1f} | {s['shuffle_write_bytes'] / mb:.1f} |"
        )
        for stage, st in s["stage_stats"].items():
            lines.append(f"| | {stage} | {st['rows']:,} | {st['wall_s']:.2f} | | | | | |")
    return "\n".join(lines)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--records", type=int, nargs="+", default=[5000, 50400],
                    help="corpus sizes in records (default: 5000 50400)")
    ap.add_argument("--cores", type=int, nargs="+", default=[1, 4],
                    help="one local[N] level, or N and 4N for the scaling runs (default: 1 4)")
    ap.add_argument("--skew", action="store_true",
                    help="plant a 10%% duplicate group on one host and a near-cutoff hot token")
    args = ap.parse_args(argv)
    levels = sorted(set(args.cores))
    if len(levels) > 2:
        ap.error("--cores takes one or two levels")

    t0 = time.perf_counter()
    work = tempfile.mkdtemp(prefix="scale_ladder_")
    sizes, ok = {}, True
    try:
        for n in args.records:
            cells: dict = defaultdict(list)
            ceilings: list[float] = []
            order = levels * ALTERNATIONS if len(levels) == 2 else levels
            for i, cores in enumerate(order):
                if len(levels) == 2 and cores == levels[0]:
                    ceilings.append(raw_cpu_throughput(levels[1]) / raw_cpu_throughput(levels[0]))
                full = i == len(order) - 1
                print(f"{n} records, local[{cores}], {'full' if full else 'in-memory'} cell",
                      file=sys.stderr, flush=True)
                cells[cores].append(run_cell_process(n, cores, full, args.skew, work))
            report = cells[levels[-1]][-1]
            if len(levels) == 2:
                report["scaling"] = scaling(cells, levels, ceilings)
            report["gates"]["f1"] = all(r["gates"]["f1"] for rs in cells.values() for r in rs)
            report["gates"]["no_failed_tasks"] = not any(
                r["failed_tasks"] for rs in cells.values() for r in rs)
            ok &= all(report["gates"].values())
            sizes[str(n)] = report
            print(layer_table(report) + "\n")
            print(json.dumps({k: report.get(k) for k in (
                "f1", "accepted_edges", "gates", "incremental", "recrawl", "scaling")}, indent=1) + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    from crocodile_spark.session import available_cpus

    print(json.dumps({
        "host_cpus": available_cpus(),
        "wall_s": time.perf_counter() - t0,
        "ok": ok,
        "sizes": sizes,
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
