"""Corpus-level statistics operators: unigram LM quality scoring, TF-IDF
keyword extraction, per-source rollups.

Unlike ``textstats`` (pure per-row column arithmetic), these are
two-pass operators: a corpus-wide statistics pass (unigram counts,
document frequencies) feeds a per-document scoring pass. This is the
CCNet/C4 curation shape — score every document against a corpus-level
model, then filter — re-expressed as DataFrame algebra.

Scale notes (100 TB):

- The statistics tables are **vocabulary-sized**, not corpus-sized:
  ``groupBy(term)`` gets map-side partial aggregation, so the Exchange
  moves one row per (partition, term), and the result is millions of
  rows where the corpus is trillions. Scalar totals (corpus token
  count, document count) are 1-row aggregates broadcast back with a
  ``crossJoin(broadcast(...))`` — never a global window (a
  partitionless window would funnel the whole relation through one
  task).
- The scoring pass joins the exploded corpus against the vocabulary
  table on ``term``. At sf-test scale the vocabulary is under the
  broadcast threshold (64 MB in ``session``), so Catalyst broadcasts
  it and no partition is keyed by term. At web scale it is a shuffle
  join, and head-term skew sits on the probe side: every occurrence of
  a head term hashes to one partition, however small the one-row-per-
  term build side is. AQE's skew-join split (on in ``session``) cuts
  such a partition into several tasks, each joined against the
  replicated build rows of its key.
- The per-document re-aggregation keys on ``doc_id`` — unique per
  source row, uniform, skew-free.

Every formula is frozen here and mirrored bit-for-bit in the DuckDB
oracle SQL (driver gates ``lm_score``, ``tfidf_keywords``,
``source_stats``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .common import round6_col, sql_round6, sql_words, words_col

TFIDF_TOP_K = 3  # keywords kept per document


def _doc_term_freqs(docs: DataFrame) -> DataFrame:
    """(doc_id, term, tf) — per-document term frequencies."""
    return (
        docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.explode(words_col("text")).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


def lm_score(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, bits_per_token) — unigram cross-entropy of each
    document under the corpus's own maximum-likelihood unigram model:

        bits_per_token(d) = -(1/|d|) * sum_t tf_d(t) * log2(cnt(t)/TOTAL)

    The distributed analog of CCNet's KenLM perplexity filter with the
    model order fixed at 1 and the model trained on the corpus itself —
    a deterministic, external-data-free quality score where low bits =
    typical text and high bits = rare-token noise. Documents with no
    ``\\w+`` tokens score (0, 0.0).
    """
    tf = _doc_term_freqs(docs)
    counts = tf.groupBy("term").agg(F.sum("tf").cast("long").alias("cnt"))
    total = counts.agg(F.sum("cnt").cast("double").alias("total_tokens"))
    scored = (
        tf.join(counts, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(-F.col("tf") * F.log2(F.col("cnt") / F.col("total_tokens")))
            .alias("bits_sum"),
        )
        .select(
            "doc_id",
            "n_tokens",
            round6_col(F.col("bits_sum") / F.col("n_tokens"))
            .alias("bits_per_token"),
        )
    )
    all_docs = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    return all_docs.join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("bits_per_token", F.lit(0.0)).alias("bits_per_token"),
    )


SQL_LM_SCORE = f"""
WITH tf AS (
    SELECT doc_id, t.term, count(*)::BIGINT AS tf
    FROM (SELECT doc_id, {sql_words('text')} AS w FROM documents),
         unnest(w) AS t(term)
    GROUP BY doc_id, t.term
),
counts AS (
    SELECT term, sum(tf)::BIGINT AS cnt FROM tf GROUP BY term
),
total AS (
    SELECT sum(cnt)::DOUBLE AS total_tokens FROM counts
),
scored AS (
    SELECT tf.doc_id,
           sum(tf.tf)::BIGINT AS n_tokens,
           sum(-tf.tf * log2(counts.cnt / total.total_tokens)) AS bits_sum
    FROM tf JOIN counts USING (term) CROSS JOIN total
    GROUP BY tf.doc_id
)
SELECT d.doc_id::BIGINT AS doc_id,
       coalesce(s.n_tokens, 0)::BIGINT AS n_tokens,
       coalesce({sql_round6('s.bits_sum / s.n_tokens')}, 0.0) AS bits_per_token
FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
"""


def tfidf_keywords(docs: DataFrame, k: int = TFIDF_TOP_K) -> DataFrame:
    """(doc_id, rank, term, tfidf) — the top-k keywords of every document
    by TF-IDF against the corpus's own document frequencies.

    Frozen spec: ``tfidf = tf * ln((N + 1) / (df + 1))`` (smoothed idf,
    never negative), rounded to 6dp BEFORE ranking so both engines rank
    identical values; rank = row_number over (tfidf DESC, term ASC) per
    document — fully deterministic.

    Scale: df is vocabulary-sized (partial-agg'd), N is a broadcast
    1-row aggregate, and the top-k cut is a per-doc_id row_number window
    that Spark 4's WindowGroupLimit partial-limits map-side before the
    shuffle — no per-document data leaves an executor beyond k rows.
    """
    tf = _doc_term_freqs(docs)
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tf.join(df_tbl, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            round6_col(
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("doc_id", "rank", "term", "tfidf")
    )


SQL_TFIDF_KEYWORDS = f"""
WITH tf AS (
    SELECT doc_id, t.term, count(*)::BIGINT AS tf
    FROM (SELECT doc_id, {sql_words('text')} AS w FROM documents),
         unnest(w) AS t(term)
    GROUP BY doc_id, t.term
),
dfreq AS (
    SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term
),
n AS (
    SELECT count(*)::DOUBLE AS n_docs FROM documents
),
scored AS (
    SELECT tf.doc_id, tf.term,
           {sql_round6('tf.tf * ln((n.n_docs + 1.0) / (dfreq.df + 1.0))')}
               AS tfidf
    FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
    SELECT doc_id, term, tfidf,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY tfidf DESC, term ASC)::BIGINT AS rank
    FROM scored
)
SELECT doc_id::BIGINT AS doc_id, rank, term, tfidf
FROM ranked WHERE rank <= {TFIDF_TOP_K}
"""


def source_stats(docs: DataFrame) -> DataFrame:
    """(source, n_docs, total_tokens, avg_chars, n_langs) — per-source
    corpus rollup (the per-domain summary a web pipeline uses to budget
    crawl quotas and spot degenerate sources).

    Scale: ``groupBy(source)`` is low-cardinality, but partial
    aggregation reduces every map partition to one row per source before
    the Exchange, so the shuffle moves O(partitions x sources) tiny
    rows; the distinct-lang count is a two-level agg with the same
    property.
    """
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.size(words_col("text"))).cast("long").alias("total_tokens"),
            round6_col(F.avg(F.length("text"))).alias("avg_chars"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
        )
    )


SQL_SOURCE_STATS = f"""
SELECT source,
       count(*)::BIGINT AS n_docs,
       sum(len({sql_words('text')}))::BIGINT AS total_tokens,
       {sql_round6('avg(length(text))')} AS avg_chars,
       count(DISTINCT lang)::BIGINT AS n_langs
FROM documents
GROUP BY source
"""


def corpus_rollup(docs: DataFrame) -> DataFrame:
    """(lang, source, n_docs, total_chars) at every ROLLUP level —
    (lang, source), per-lang subtotals, and the grand total. Rolled-up
    dimensions are the ANSI NULL, projected to the ``(all)`` sentinel so
    the result is totally ordered (NULL group keys don't sort against
    strings in either engine's client, and the sentinel can't collide
    with real 2-letter langs / dotted source domains).

    The reference has no grouping-sets surface (SURVEY §2.7); a corpus
    dashboard needs exactly this shape. Scale: Spark expands ROLLUP into
    one Expand + hash aggregate — each input row contributes to 3
    grouping sets map-side, partial aggregation collapses everything to
    O(|lang| x |source|) rows before the single Exchange. No joins, no
    second pass over the corpus for the subtotal levels.
    """
    return (
        docs.rollup("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.length("text")).cast("long").alias("total_chars"),
        )
        .select(
            F.coalesce(F.col("lang"), F.lit("(all)")).alias("lang"),
            F.coalesce(F.col("source"), F.lit("(all)")).alias("source"),
            "n_docs",
            "total_chars",
        )
    )


SQL_CORPUS_ROLLUP = """
SELECT coalesce(lang, '(all)') AS lang,
       coalesce(source, '(all)') AS source,
       count(*)::BIGINT AS n_docs,
       sum(length(text))::BIGINT AS total_chars
FROM documents
GROUP BY ROLLUP (lang, source)
"""
