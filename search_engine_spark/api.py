"""Driver-gate API: named queries over the driver's parquet tables plus
DuckDB oracle SQL for each.

Each query here is one implemented operator surface from SURVEY.md §2,
re-expressed over the driver's ``documents`` corpus
(``doc_id, text, lang, source, n_chars``). The Spark side uses JVM-native
expressions (regexp_extract_all tokenization — ASCII-identical to the
reference kernels, see functions/tokenize.py) so plans stay in
whole-stage codegen; the DuckDB oracle uses the equivalent RE2 regexes.

Column-name and tie-break discipline: every output column is aliased
identically on both sides, every ranked output uses a deterministic
(score DESC, doc_id ASC) order, and floating scores are rounded to 6
decimals on both sides so the driver's value-hash comparison is stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .corpus import REFERENCE_QUERIES, load_table
from .index.build import build_postings, doc_lengths, term_stats
from .query.scoring import bm25_topk, boolean_and_topk, tfsum_topk


def _queries_df(spark: SparkSession) -> DataFrame:
    rows = [(f"q{n:02d}", q) for n, q in enumerate(REFERENCE_QUERIES, start=1)]
    return spark.createDataFrame(rows, ["query_id", "query_string"])


# Conjunctive-mode workload: multi-term queries over the driver corpus's
# vocabulary (the reference queries rarely have ALL terms co-occur in one
# synthetic document). b05 contains a term absent from any corpus — the
# conjunctive contract returns zero rows for it.
BOOLEAN_QUERIES: list[str] = [
    "table row value",
    "fast slow scan filter",
    "data stream window",
    "customer order line",
    "data query nosuchword",
]


def _boolean_queries_df(spark: SparkSession) -> DataFrame:
    rows = [(f"b{n:02d}", q) for n, q in enumerate(BOOLEAN_QUERIES, start=1)]
    return spark.createDataFrame(rows, ["query_id", "query_string"])


def _docs_as_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Engine-internal key is `url`; the driver table key is doc_id.
    return load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )


# SQL fragments shared by the oracle queries -------------------------------

_SQL_QUERY_VALUES = ",\n    ".join(
    "('q%02d', '%s')" % (n, q.replace("'", "''"))
    for n, q in enumerate(REFERENCE_QUERIES, start=1)
)

_SQL_TOKS = r"""
toks AS (
    SELECT doc_id::VARCHAR AS doc_id,
           unnest(regexp_extract_all(lower(text), '[^\s]+')) AS term
    FROM documents
)"""

_SQL_POSTINGS = r"""
postings AS (
    SELECT term, doc_id, count(*)::BIGINT AS tf
    FROM toks GROUP BY term, doc_id
)"""

_SQL_QTERMS = rf"""
q(query_id, query_string) AS (VALUES
    {_SQL_QUERY_VALUES}
),
qtok AS (
    SELECT query_id,
           unnest(regexp_extract_all(lower(query_string), '\w+')) AS term
    FROM q
),
qterms AS (
    SELECT query_id, term, count(*)::BIGINT AS qtf
    FROM qtok GROUP BY query_id, term
)"""


# Query implementations ----------------------------------------------------


def q_tfsum_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parity scorer over the documents corpus (SURVEY.md §2 Q1-Q5)."""
    docs = _docs_as_corpus(spark, sf_dir)
    postings = build_postings(docs)
    out = tfsum_topk(_queries_df(spark), postings, k=10)
    return out.select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        F.col("url").alias("doc_id"),
        F.col("score").cast("long").alias("score"),
    )


_SQL_TFSUM = rf"""
WITH {_SQL_TOKS},
{_SQL_POSTINGS},
{_SQL_QTERMS},
scored AS (
    SELECT query_id, doc_id, sum(qtf * tf)::BIGINT AS score
    FROM qterms JOIN postings USING (term)
    GROUP BY query_id, doc_id
),
ranked AS (
    SELECT query_id,
           row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id ASC
           )::INTEGER AS rank,
           doc_id, score
    FROM scored
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= 10
"""


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 oracle scorer (SURVEY.md §7.3 spec), scores rounded to 6dp."""
    docs = _docs_as_corpus(spark, sf_dir)
    postings = build_postings(docs)
    dl = doc_lengths(docs)
    agg = dl.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    ts = term_stats(postings, int(agg.n))
    out = bm25_topk(_queries_df(spark), postings, dl, ts, float(agg.avgdl), k=10)
    return out.select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        F.col("url").alias("doc_id"),
        "score",
    )


_SQL_BM25 = rf"""
WITH {_SQL_TOKS},
{_SQL_POSTINGS},
{_SQL_QTERMS},
dl AS (
    SELECT doc_id, count(*)::BIGINT AS dl FROM toks GROUP BY doc_id
),
stats AS (
    SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM dl
),
ts AS (
    SELECT term, count(*)::BIGINT AS df,
           ln(1.0 + ((SELECT n FROM stats) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
    FROM postings GROUP BY term
),
scored AS (
    SELECT query_id, p.doc_id,
           round(sum(
               qtf * ts.idf * (p.tf * 2.2)
               / (p.tf + 1.2 * (0.25 + 0.75 * dl.dl / (SELECT avgdl FROM stats)))
           ), 6) AS score
    FROM qterms
    JOIN postings p USING (term)
    JOIN ts USING (term)
    JOIN dl ON p.doc_id = dl.doc_id
    GROUP BY query_id, p.doc_id
),
ranked AS (
    SELECT query_id,
           row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id ASC
           )::INTEGER AS rank,
           doc_id, score
    FROM scored
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= 10
"""


def q_boolean_and_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive (boolean AND) BM25 top-k — only documents containing
    every query term rank; same broadcast join shape as bm25_topk plus a
    matched-term-count filter."""
    docs = _docs_as_corpus(spark, sf_dir)
    postings = build_postings(docs)
    dl = doc_lengths(docs)
    agg = dl.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    ts = term_stats(postings, int(agg.n))
    out = boolean_and_topk(
        _boolean_queries_df(spark), postings, dl, ts, float(agg.avgdl), k=10
    )
    return out.select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        F.col("url").alias("doc_id"),
        "score",
    )


_SQL_BOOLEAN_QUERY_VALUES = ",\n    ".join(
    "('b%02d', '%s')" % (n, q.replace("'", "''"))
    for n, q in enumerate(BOOLEAN_QUERIES, start=1)
)

_SQL_BOOLEAN_AND = rf"""
WITH {_SQL_TOKS},
{_SQL_POSTINGS},
bq(query_id, query_string) AS (VALUES
    {{boolean_values}}
),
bqtok AS (
    SELECT query_id,
           unnest(regexp_extract_all(lower(query_string), '\w+')) AS term
    FROM bq
),
bqterms AS (
    SELECT query_id, term, count(*)::BIGINT AS qtf
    FROM bqtok GROUP BY query_id, term
),
nterms AS (
    SELECT query_id, count(*)::BIGINT AS n_terms FROM bqterms GROUP BY query_id
),
dl AS (
    SELECT doc_id, count(*)::BIGINT AS dl FROM toks GROUP BY doc_id
),
stats AS (
    SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM dl
),
ts AS (
    SELECT term,
           ln(1.0 + ((SELECT n FROM stats) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
    FROM postings GROUP BY term
),
scored AS (
    SELECT query_id, p.doc_id,
           round(sum(
               qtf * ts.idf * (p.tf * 2.2)
               / (p.tf + 1.2 * (0.25 + 0.75 * dl.dl / (SELECT avgdl FROM stats)))
           ), 6) AS score,
           count(*)::BIGINT AS n_matched
    FROM bqterms
    JOIN postings p USING (term)
    JOIN ts USING (term)
    JOIN dl ON p.doc_id = dl.doc_id
    GROUP BY query_id, p.doc_id
),
conj AS (
    SELECT s.query_id, s.doc_id, s.score
    FROM scored s JOIN nterms USING (query_id)
    WHERE n_matched = n_terms
),
ranked AS (
    SELECT query_id,
           row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id ASC
           )::INTEGER AS rank,
           doc_id, score
    FROM conj
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= 10
""".replace("{boolean_values}", _SQL_BOOLEAN_QUERY_VALUES)


def q_wand_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-max MaxScore over compressed segments (query/wand.py).

    Shares the BM25 oracle SQL — the driver's comparison IS the
    north_rule's rank-identity check (fast path == brute force).

    The segment index is built into a per-corpus scratch directory and
    served eagerly: the query batch is collected once, scored in one
    kernel job and merged on the driver into a local relation. The
    cache key folds in a fingerprint
    of the source parquet files (names + sizes + mtimes), so a
    regenerated corpus at the same path never silently reuses a stale
    index, and the build runs under an exclusive flock so two sessions
    racing on the same scratch directory serialize instead of
    corrupting each other's lineage. Re-running the gate reuses the
    committed index: ``build_segments`` is idempotent (lineage-gated
    resume), so a second call over a complete index runs no Spark job
    and leaves ``stats.json``, and with it the serving cache, as it was.
    """
    import hashlib
    import tempfile
    from pathlib import Path

    from .index.segments import CODEC_VERSION, build_segments
    from .query.wand import wand_topk

    docs = _docs_as_corpus(spark, sf_dir)
    src = Path(sf_dir).resolve()
    finger = [str(src)]
    for f in sorted(src.glob("documents*.parquet")):
        st = f.stat()
        finger.append(f"{f.name}:{st.st_size}:{st.st_mtime_ns}")
    key = hashlib.md5("|".join(finger).encode()).hexdigest()[:12]
    d = str(
        Path(tempfile.gettempdir())
        / "spark_graft_idx"
        / f"gate-v{CODEC_VERSION}-{key}"
    )
    Path(d).parent.mkdir(parents=True, exist_ok=True)
    import fcntl

    with open(Path(d).parent / f".{Path(d).name}.lock", "w") as lockf:
        fcntl.flock(lockf, fcntl.LOCK_EX)
        try:
            build_segments(spark, docs, d, n_buckets=8, run_id="gate")
        finally:
            fcntl.flock(lockf, fcntl.LOCK_UN)
    out = wand_topk(spark, d, _queries_df(spark), k=10)
    return out.select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        F.col("url").alias("doc_id"),
        "score",
    )


def q_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary statistics: top-100 terms by df (B1/term_stats surface)."""
    docs = _docs_as_corpus(spark, sf_dir)
    postings = build_postings(docs)
    n = docs.count()
    ts = term_stats(postings, n)
    return (
        ts.orderBy(F.desc("df"), F.asc("term"))
        .limit(100)
        .select("term", "df", "cf", F.round("idf", 6).alias("idf"))
    )


_SQL_TERM_STATS = rf"""
WITH {_SQL_TOKS},
{_SQL_POSTINGS},
n AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n FROM toks),
ts AS (
    SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf
    FROM postings GROUP BY term
)
SELECT term, df, cf,
       round(ln(1.0 + ((SELECT n FROM n) - df + 0.5) / (df + 0.5)), 6) AS idf
FROM ts
ORDER BY df DESC, term ASC
LIMIT 100
"""


def q_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts (BM25 dl; text-analysis surface)."""
    docs = _docs_as_corpus(spark, sf_dir)
    return doc_lengths(docs).select(
        F.col("url").alias("doc_id"), F.col("dl").alias("n_tokens")
    )


_SQL_DOC_LENGTHS = rf"""
WITH {_SQL_TOKS}
SELECT doc_id, count(*)::BIGINT AS n_tokens FROM toks GROUP BY doc_id
"""


def q_postings_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The postings relation itself for the reference query terms —
    the token -> posting-list lookup surface (SURVEY.md §2 Q1)."""
    docs = _docs_as_corpus(spark, sf_dir)
    postings = build_postings(docs)
    qt = (
        _queries_df(spark)
        .select(F.explode(F.regexp_extract_all(F.lower("query_string"), F.lit(r"\w+"), 0)).alias("term"))
        .distinct()
    )
    return (
        postings.join(F.broadcast(qt), "term")
        .select("term", F.col("url").alias("doc_id"), "tf")
    )


_SQL_POSTINGS_SAMPLE = rf"""
WITH {_SQL_TOKS},
{_SQL_POSTINGS},
{_SQL_QTERMS}
SELECT DISTINCT p.term, p.doc_id, p.tf
FROM postings p JOIN (SELECT DISTINCT term FROM qterms) t USING (term)
"""


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML body-text extraction kernel (SURVEY.md §2 T2) through the
    driver gate: wrap each document's text in an HTML envelope (with a
    head to skip and an entity to decode), extract body text with the
    Arrow kernel, and assert the byte-level result.

    Extracted = text + " &co" (the <i>&amp;co</i> node joins with a
    single space; the corpus contains no markup metacharacters, checked
    at oracle-build time by construction of the synthetic corpus).
    """
    from .functions.extract import extract_text_udf

    docs = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title>skip me</title></head><body><p>"),
        F.col("text"),
        F.lit("</p><i>&amp;co</i></body></html>"),
    )
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        extract_text_udf(F.encode(html, "utf-8"), F.lit("html")).alias("extracted"),
    )


_SQL_HTML_EXTRACT = """
SELECT doc_id::BIGINT AS doc_id, text || ' &co' AS extracted FROM documents
"""


def q_json_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON flatten+tokenize kernel (SURVEY.md §2 T3) through the gate:
    serialize (doc_id, lang, text) to JSON, run the recursive walk
    (string values + object keys tokenized, numbers dropped), count
    terms per document."""
    from .functions.extract import doc_tokens_dispatch_udf

    docs = load_table(spark, sf_dir, "documents")
    j = F.to_json(F.struct("doc_id", "lang", "text"))
    toks = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(doc_tokens_dispatch_udf(j, F.lit("json"))).alias("term"),
    )
    return toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


_SQL_JSON_TOKENS = r"""
SELECT doc_id, term, count(*)::BIGINT AS n FROM (
    SELECT doc_id::BIGINT AS doc_id,
           unnest(regexp_extract_all(lower(text), '[^\s]+')) AS term
    FROM documents
    UNION ALL
    SELECT doc_id::BIGINT, unnest(['doc_id', 'lang', 'text']) FROM documents
    UNION ALL
    SELECT doc_id::BIGINT, lower(lang) FROM documents
) GROUP BY doc_id, term
"""


def q_facet_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Facet counts over each query's matched documents (fulltext-tier
    metadata surface; the reference's data model is text-only)."""
    from .query.facets import facet_counts

    return facet_counts(
        load_table(spark, sf_dir, "documents"), _queries_df(spark)
    )


def q_filtered_tfsum_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered ranked retrieval: tf-sum top-k over lang='en'
    documents only (predicate pushed to the parquet scan)."""
    from .query.facets import filtered_tfsum_topk

    return filtered_tfsum_topk(
        load_table(spark, sf_dir, "documents"), _queries_df(spark)
    )


from .query.facets import sql_facet_counts, sql_filtered_tfsum_topk  # noqa: E402

_SQL_FACET_COUNTS = sql_facet_counts(_SQL_QUERY_VALUES)
_SQL_FILTERED_TFSUM = sql_filtered_tfsum_topk(_SQL_QUERY_VALUES)


from .api_pipeline import PIPELINE_ORACLES, PIPELINE_QUERIES  # noqa: E402

QUERIES: dict = {
    "html_extract": q_html_extract,
    "json_tokens": q_json_tokens,
    "tfsum_topk": q_tfsum_topk,
    "bm25_topk": q_bm25_topk,
    "boolean_and_topk": q_boolean_and_topk,
    "wand_topk": q_wand_topk,
    "term_stats_top100": q_term_stats,
    "doc_lengths": q_doc_lengths,
    "postings_query_terms": q_postings_sample,
    "facet_counts": q_facet_counts,
    "filtered_tfsum_topk": q_filtered_tfsum_topk,
    **PIPELINE_QUERIES,
}

ORACLES: dict = {
    "html_extract": _SQL_HTML_EXTRACT,
    "json_tokens": _SQL_JSON_TOKENS,
    "tfsum_topk": _SQL_TFSUM,
    "bm25_topk": _SQL_BM25,
    "boolean_and_topk": _SQL_BOOLEAN_AND,
    # wand_topk must be rank-identical to brute-force BM25: same oracle.
    "wand_topk": _SQL_BM25,
    "term_stats_top100": _SQL_TERM_STATS,
    "doc_lengths": _SQL_DOC_LENGTHS,
    "postings_query_terms": _SQL_POSTINGS_SAMPLE,
    "facet_counts": _SQL_FACET_COUNTS,
    "filtered_tfsum_topk": _SQL_FILTERED_TFSUM,
    **PIPELINE_ORACLES,
}
