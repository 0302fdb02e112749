#!/usr/bin/env python
"""spark-submit entrypoint for the record-linkage pipeline (north_rule
shipping shape).

Cluster usage:
    zip -r crocodile_spark.zip crocodile_spark
    spark-submit --py-files crocodile_spark.zip \
        --num-executors <N> \
        jobs/run_pipeline.py \
        --input  <parquet/iceberg path of web_pages(url, warc_ts, html, text, lang)> \
        --output <lakehouse root for stage checkpoints + clusters> \
        [--no-html] [--max-block-size 64] [--threshold 0.42]

Local sandbox: python jobs/run_pipeline.py --input ... --output ... --master local[32]

Resume: re-running with the same --output skips stages whose lineage says
DONE. <output>/_lineage holds one small parquet file per stage piece,
written on the driver: per-file rows of a stage output (partition_id = the
part file's index), one row per bucket of the bucketed scored stage
(partition_id = the bucket), and a STAGE_DONE sentinel per stage. A killed
run recomputes only the buckets without a lineage file. Roots written
before this layout hold Spark-written lineage part files and must be
rebuilt.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--master", default=None, help="unset on a real cluster")
    p.add_argument("--no-html", action="store_true",
                   help="trust the text column instead of re-extracting from html")
    p.add_argument("--max-block-size", type=int, default=64)
    p.add_argument("--threshold", type=float, default=0.42)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--resume-buckets", type=int, default=4,
                   help="mid-stage resume granularity for the scored stage")
    args = p.parse_args()

    from crocodile_spark.config import PipelineConfig
    from crocodile_spark.pipeline import run_pipeline
    from crocodile_spark.session import get_spark

    spark = get_spark(
        app_name="croco-spark-pipeline",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    cfg = PipelineConfig(
        checkpoint_dir=args.output,
        max_block_size=args.max_block_size,
        score_threshold=args.threshold,
        resume_buckets=args.resume_buckets,
    )
    web_pages = spark.read.parquet(args.input)

    t0 = time.time()
    out = run_pipeline(spark, web_pages, cfg, use_html=not args.no_html)
    wall = time.time() - t0
    n_clusters = out.clusters.select("cluster_id").distinct().count()
    report = {
        "wall_s": round(wall, 2),
        "stages": out.stage_stats,
        "n_records": out.stage_stats.get("records", {}).get("rows"),
        "n_pairs": out.stage_stats.get("pairs", {}).get("rows"),
        "n_clusters": n_clusters,
        "output": args.output,
    }
    print(json.dumps(report, indent=2))


if __name__ == "__main__":
    main()
