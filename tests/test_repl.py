"""Piped-stdin smoke test for the interactive REPL (SURVEY §2 S2's
stdin-loop half; reference ``src/main.rs:247-287``)."""

from __future__ import annotations

import io

from search_engine_spark import corpus
from search_engine_spark.index.segments import build_segments
from search_engine_spark.query.repl import EXIT_WORDS, PROMPT, interactive_loop


def test_interactive_loop_piped_stdin(spark, tmp_path):
    pages = corpus.tiny_pages(spark)
    idx = str(tmp_path / "idx")
    build_segments(spark, pages, idx, n_buckets=2, run_id="repl")

    # two real queries (from the reference workload's vocabulary — the
    # tiny corpus holds every one of those 10 queries' tokens), an empty
    # line (re-prompts, not served), then exit
    fin = io.StringIO(
        "standard american breakfast\n\n"
        "two snakes wrapped around a staff from greek mythology\nquit\n"
    )
    fout = io.StringIO()
    n = interactive_loop(spark, idx, pages=pages, k=5,
                         input_fh=fin, output_fh=fout)
    out = fout.getvalue()
    assert n == 2
    # one prompt per read: 2 queries + 1 empty + 1 quit
    assert out.count(PROMPT) == 4
    assert out.count("Query result:") == 2
    assert " 1. score=" in out
    # previews printed because pages was provided
    assert "(Showing first 5 lines of document)" in out


def test_interactive_loop_eof_and_no_pages(spark, tmp_path):
    pages = corpus.tiny_pages(spark)
    idx = str(tmp_path / "idx")
    build_segments(spark, pages, idx, n_buckets=2, run_id="repl")

    fin = io.StringIO("nosuchtermanywherexyz\n")  # EOF ends the loop
    fout = io.StringIO()
    n = interactive_loop(spark, idx, k=5, input_fh=fin, output_fh=fout)
    assert n == 1
    assert "(no matching documents)" in fout.getvalue()
    assert "quit" in EXIT_WORDS
