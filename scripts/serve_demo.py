#!/usr/bin/env python
"""Runnable end-to-end serving demo: the reference's submit/poll loop
(``/root/reference/src/server.rs:34-118``) re-expressed as a long-lived
Structured Streaming service.

    submit  = drop a JSON-lines file of {"query_id", "query_string"}
              rows into the query inbox directory (the reference's TCP
              :8080 submit endpoint becomes a file-drop source; any
              streaming source — Kafka, socket — slots in identically)
    serve   = streaming query scores each micro-batch with the SAME
              block-max MaxScore path as batch serving, appends ranked
              results to a parquet mailbox
    poll    = re-read the mailbox filtered by query_id until present
              (the reference's :8081 "No result yet, check again...")
    display = top-10 with each document's first-5-lines preview
              (``src/lib.rs:229-268`` Display format)

Usage (self-driving demo over the in-repo 100-page corpus
``corpus.tiny_pages`` and the 10 reference queries):

    cd /root/repo && python scripts/serve_demo.py --demo

Or long-lived: ``python scripts/serve_demo.py --index-dir <dir>
--inbox <dir> --mailbox <dir>`` then drop query files into the inbox
and poll with ``--poll <query_id>``.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _make_spark(cores: int = 4):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("search-engine-serve-demo")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def run_demo() -> int:
    """Index the in-repo tiny corpus, start the serving stream, submit the
    10 reference queries through the file inbox, poll every result, and
    print the top-10 with previews. Exit 0 iff every query answers."""
    from search_engine_spark import corpus
    from search_engine_spark.index.segments import build_segments
    from search_engine_spark.query.preview import preview_results
    from search_engine_spark.streaming.serve import poll_result, serve_stream

    spark = _make_spark()
    root = Path(tempfile.mkdtemp(prefix="serve-demo-"))
    inbox, mailbox, ckpt = root / "inbox", root / "mailbox", root / "ckpt"
    inbox.mkdir()

    pages = corpus.tiny_pages(spark)
    idx = root / "index"
    print(f"# building index under {idx} ...", flush=True)
    build_segments(spark, pages, str(idx), n_buckets=4, run_id="demo")

    qstream = spark.readStream.schema(
        "query_id string, query_string string"
    ).json(str(inbox))
    sq = serve_stream(qstream, str(idx), str(mailbox), str(ckpt), k=10)
    print("# serving stream started; submitting queries ...", flush=True)

    qids = []
    try:
        # submit: one JSON-lines drop per query (the reference's test
        # harness POSTs one query per connection, src/bin/test.rs:57-83)
        for i, q in enumerate(corpus.REFERENCE_QUERIES, start=1):
            qid = f"demo-q{i:02d}"
            qids.append((qid, q))
            (inbox / f"q{i:02d}.json").write_text(
                json.dumps({"query_id": qid, "query_string": q}) + "\n"
            )
        sq.processAllAvailable()

        # poll until present (bounded retries — the reference loops on
        # "No result yet, check again...", src/bin/test.rs:86-121)
        ok = 0
        for qid, q in qids:
            rows = []
            for _ in range(60):
                rows = poll_result(spark, str(mailbox), qid).collect()
                if rows:
                    break
                time.sleep(0.5)
            if not rows:
                print(f"!! no result for {qid}", flush=True)
                continue
            ok += 1
            res = poll_result(spark, str(mailbox), qid)
            shown = preview_results(res, pages).collect()
            print(f"\n=== {qid}: {q!r} — top {len(shown)}", flush=True)
            for r in shown[:3]:
                first = r.preview.splitlines()[0] if r.preview else ""
                print(f"  {r.rank:2d}. {r.url:30s} {r.score:8.4f}  | {first[:60]}")
            if len(shown) > 3:
                print(f"  ... {len(shown) - 3} more rows")
    finally:
        sq.stop()
        spark.stop()
        shutil.rmtree(root, ignore_errors=True)
    print(f"\n# answered {ok}/{len(qids)} queries", flush=True)
    return 0 if ok == len(qids) else 1


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--demo", action="store_true",
                    help="self-driving demo over the in-repo tiny corpus")
    ap.add_argument("--index-dir")
    ap.add_argument("--inbox")
    ap.add_argument("--mailbox")
    ap.add_argument("--poll", metavar="QUERY_ID")
    args = ap.parse_args()

    if args.demo:
        sys.exit(run_demo())

    if args.poll:
        from search_engine_spark.streaming.serve import poll_result

        spark = _make_spark()
        rows = poll_result(spark, args.mailbox, args.poll).collect()
        if not rows:
            print("No result yet, check again...")
        for r in rows:
            print(f"{r.rank:2d}. {r.url}  {r.score}")
        spark.stop()
        return

    if not (args.index_dir and args.inbox and args.mailbox):
        print("need --demo, --poll, or --index-dir/--inbox/--mailbox")
        sys.exit(2)

    from search_engine_spark.streaming.serve import serve_stream

    spark = _make_spark()
    Path(args.inbox).mkdir(parents=True, exist_ok=True)
    qstream = spark.readStream.schema(
        "query_id string, query_string string"
    ).json(args.inbox)
    sq = serve_stream(
        qstream, args.index_dir, args.mailbox,
        str(Path(args.mailbox).with_suffix(".ckpt")), k=10,
    )
    print(f"# serving: drop JSON-lines files into {args.inbox}; Ctrl-C to stop")
    try:
        sq.awaitTermination()
    except KeyboardInterrupt:
        sq.stop()
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
