#!/usr/bin/env python
"""spark-submit entrypoint: batch top-k BM25 serving over a segment index.

    spark-submit --py-files /tmp/search_engine_spark.zip \\
        scripts/query_index.py \\
        --index /data/index --queries queries.txt --k 10 \\
        [--out /data/results_parquet]

queries.txt: one free-text query per line (the reference's protocol,
/root/reference/queries.txt). Output: (query_id, rank, url, score) —
printed as JSON lines, or written to parquet with --out.

--interactive replaces --queries with the reference's stdin REPL
(src/main.rs:247-287): prompt, read a line, print the formatted top-10
with first-5-lines previews when --pages gives the corpus parquet.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--queries",
                    help="queries file, one per line (batch mode)")
    ap.add_argument("--interactive", action="store_true",
                    help="stdin REPL instead of a queries file")
    ap.add_argument("--pages",
                    help="corpus parquet (url, text) for --interactive "
                    "first-5-lines previews")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--out")
    args = ap.parse_args()
    if bool(args.queries) == args.interactive:
        ap.error("exactly one of --queries / --interactive is required")

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("segment-index-query").getOrCreate()

    from search_engine_spark.query.wand import wand_topk

    if args.interactive:
        from search_engine_spark.query.repl import interactive_loop

        pages = spark.read.parquet(args.pages) if args.pages else None
        n = interactive_loop(spark, args.index, pages=pages, k=args.k)
        print(f"served {n} queries")
        spark.stop()
        return

    with open(args.queries, encoding="utf-8") as fh:
        lines = [ln for ln in (line.rstrip("\n") for line in fh) if ln.strip()]
    # pass the driver-local list itself (NOT a createDataFrame wrap):
    # a list-form batch is scored in one job and merged on the driver,
    # same as the REPL/TCP front-ends
    queries = [(f"q{i + 1:04d}", q) for i, q in enumerate(lines)]

    result = wand_topk(spark, args.index, queries, k=args.k)
    if args.out:
        result.write.mode("overwrite").parquet(args.out)
    else:
        for r in result.collect():
            print(json.dumps(
                {"query_id": r.query_id, "rank": r.rank,
                 "url": r.url, "score": r.score}
            ))
    spark.stop()


if __name__ == "__main__":
    main()
