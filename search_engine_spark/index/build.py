"""Inverted-index construction as DataFrame aggregation.

The reference builds ``HashMap<token, Vec<doc_id>>`` with one vector entry
per token *occurrence* (``src/lib.rs:358-365``) — i.e. its posting list
encodes term frequency by duplication. The Spark-native equivalent keeps
tf as a count:

    pages --tokenize--> (url, term) exploded
          --groupBy(term, url).count()--> postings (term, url, tf)

Everything downstream derives from this relation:

- ``doc_lengths``: token count per document (BM25 dl).
- ``term_stats``:  df (+ cf) per term, with idf.
- compressed segments (see ``codec.py`` / ``segments.py``).

Scale notes (100 TB design):
- The explode keeps only (url, term) — columns pruned before the shuffle.
- ``groupBy(term, url)`` gets map-side partial aggregation from Catalyst,
  so the shuffle carries (term, url, partial_count), not raw occurrences.
- Head-term skew does not concentrate on single keys here because ``url``
  is part of the grouping key; the term-only aggregations (``term_stats``)
  are partial-aggregated counts (tiny per-map output). The compressed
  segments are doc-sharded (``segments.py``): url hash keeps bucket sizes
  uniform, and the only term-keyed shuffle there is the vocabulary-sized
  termstats aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tokenize import doc_tokens_col, doc_tokens_udf

BM25_K1 = 1.2
BM25_B = 0.75


def tokenized_pages(pages: DataFrame, exact_unicode: bool = False) -> DataFrame:
    """pages -> (url, tokens array<string>).

    ``exact_unicode=True`` routes through the Arrow pandas-UDF kernel
    (reference-exact Unicode semantics); the default stays JVM-side in
    whole-stage codegen (ASCII-identical).
    """
    tok = doc_tokens_udf(F.col("text")) if exact_unicode else doc_tokens_col("text")
    return pages.select(F.col("url"), tok.alias("tokens"))


def build_postings(pages: DataFrame, exact_unicode: bool = False) -> DataFrame:
    """(term, url, tf) — the uncompressed inverted index relation."""
    toks = tokenized_pages(pages, exact_unicode)
    return (
        toks.select("url", F.explode("tokens").alias("term"))
        .groupBy("term", "url")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


def doc_lengths(pages: DataFrame, exact_unicode: bool = False) -> DataFrame:
    """(url, dl) — document length in tokens (BM25 normalization)."""
    toks = tokenized_pages(pages, exact_unicode)
    return toks.select("url", F.size("tokens").cast("long").alias("dl"))


def term_stats(postings: DataFrame, n_docs: int) -> DataFrame:
    """(term, df, cf, idf) with Robertson idf = ln(1 + (N-df+0.5)/(df+0.5)).

    BM25 spec pinned in SURVEY.md §7.3. ``n_docs`` is the corpus size N
    (computed once; a broadcast scalar, not a join).
    """
    return postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("cf"),
    ).withColumn(
        "idf",
        F.log(
            F.lit(1.0)
            + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        ),
    )
