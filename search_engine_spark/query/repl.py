"""Interactive query loop — the reference's stdin REPL re-expressed.

The reference's interactive surface (``/root/reference/src/main.rs:247-287``,
``listen_for_user_queries``) prompts on stdout, reads one free-text query
per line from stdin, skips empty lines, and prints the formatted top-10
(url, score, first-5-lines preview — Display for QueryResult,
``src/lib.rs:229-268``). This module reproduces that loop over a
prebuilt segment index: each line becomes a 1-query list-form batch
into :func:`~search_engine_spark.query.wand.wand_topk`. Latency relies
on the per-index serving cache (wand.py) — the lexicon is held on the
driver and the index is persisted in the block manager by the first
query, so the per-line cost is one kernel job over the cache.

The loop is a driver-side UI shell around the same serving path the
TCP server uses; it takes file handles instead of touching ``sys`` directly
so tests drive it with StringIO (piped-stdin smoke test in
``tests/test_repl.py``).
"""

from __future__ import annotations

import sys
from typing import IO

from pyspark.sql import DataFrame, SparkSession

from .preview import PREVIEW_LINES, preview_column
from .wand import wand_topk

PROMPT = "\nEnter your query: "
EXIT_WORDS = {"exit", "quit", ":q"}


def interactive_loop(
    spark: SparkSession,
    index_dir: str,
    pages: DataFrame | None = None,
    k: int = 10,
    input_fh: IO[str] | None = None,
    output_fh: IO[str] | None = None,
) -> int:
    """Run the REPL until EOF or an exit word; returns #queries served.

    ``pages`` (optional, the corpus table) enables the reference's
    first-5-lines preview per hit; without it only (rank, score, url)
    print.
    """
    fin = input_fh if input_fh is not None else sys.stdin
    fout = output_fh if output_fh is not None else sys.stdout
    n_served = 0
    qno = 0
    while True:
        fout.write(PROMPT)
        fout.flush()
        line = fin.readline()
        if not line:  # EOF
            break
        query = line.strip()
        if not query:
            continue  # reference: empty input re-prompts
        if query.lower() in EXIT_WORDS:
            break
        qno += 1
        # list form: one kernel job, merged on the driver
        result = wand_topk(
            spark, index_dir, [(f"repl-{qno}", query)], k=k
        )
        if pages is not None:
            from pyspark.sql import functions as F

            result = F.broadcast(result).join(
                pages.select("url", "text"), "url", "left"
            ).select(
                "rank", "score", "url",
                preview_column("text").alias("preview"),
            )
        rows = sorted(result.collect(), key=lambda r: r.rank)
        if not rows:
            fout.write("Query result: (no matching documents)\n")
        else:
            fout.write("Query result:\n")
            for r in rows:
                fout.write(f"{r.rank:2d}. score={r.score:.4f}  {r.url}\n")
                if pages is not None and r.preview:
                    for pl in r.preview.split("\n")[:PREVIEW_LINES]:
                        fout.write(f"\t{pl}\n")
                    fout.write("(Showing first 5 lines of document)\n")
        n_served += 1
    return n_served
