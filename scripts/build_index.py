#!/usr/bin/env python
"""spark-submit entrypoint: build (or resume) the compressed segment index.

Usage (north_rule packaging: library shipped via --py-files):

    cd /root/repo && zip -r /tmp/search_engine_spark.zip search_engine_spark
    spark-submit --py-files /tmp/search_engine_spark.zip \\
        scripts/build_index.py \\
        --pages /data/pages_parquet --out /data/index \\
        --buckets 4096 --run-id run-$(date +%s)

    # or with deterministic synthetic pages (no external data):
    spark-submit --py-files ... scripts/build_index.py \\
        --synth 1000000 --out /data/index

The job is resumable: rerunning with the same --out skips committed
buckets (lineage table) and rebuilds only missing ones; per-bucket
docs/sec, postings/sec and segment sizes land in <out>/metrics.parquet,
and the printed summary carries the wall time of each build phase
(encode + write, commit, finalize).
All session sizing (executors, cores, memory, shuffle partitions) comes
from spark-submit flags — the script only declares the dataflow.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--pages", help="parquet path of the pages table "
                     "(url, warc_ts, html, text, lang)")
    src.add_argument("--synth", type=int, help="generate N deterministic "
                     "synthetic pages instead of reading a table")
    ap.add_argument("--out", required=True)
    ap.add_argument("--buckets", type=int, default=0,
                    help="doc buckets (0 = auto: ~8k docs per bucket)")
    ap.add_argument("--run-id", default="run-0")
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("segment-index-build").getOrCreate()

    from search_engine_spark.corpus import synth_pages
    from search_engine_spark.index.segments import build_segments

    if args.synth:
        pages = synth_pages(spark, args.synth, seed=args.seed)
        approx_docs = args.synth
    else:
        pages = spark.read.parquet(args.pages)
        approx_docs = None

    n_buckets = args.buckets
    if n_buckets <= 0:
        if approx_docs is None:
            approx_docs = pages.count()
        n_buckets = max(spark.sparkContext.defaultParallelism, approx_docs // 8000)

    summary = build_segments(
        spark,
        pages,
        args.out,
        n_buckets=n_buckets,
        run_id=args.run_id,
    )
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
