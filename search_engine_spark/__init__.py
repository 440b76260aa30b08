"""search_engine_spark — a PySpark-native full-text indexing + BM25 query engine.

A from-scratch rebuild of the query/data-processing capabilities of the
reference engine (donalshijan/Search-Engine, a Rust in-memory inverted-index
TCP/CLI search server) re-expressed Spark-first:

- ingestion/extraction/tokenization as DataFrame transforms + Arrow-vectorized
  pandas UDFs (reference: src/lib.rs:62-137),
- inverted-index construction as explode -> groupBy aggregation producing
  docID-sorted, delta+varint-compressed posting lists with block-max metadata
  (reference keeps an uncompressed HashMap<token, Vec<doc_id>>,
  src/lib.rs:341-343),
- query serving as batch DataFrame jobs: a tf-sum parity scorer matching the
  reference's summed-term-frequency ranking (src/lib.rs:374-411) and a BM25
  top-k scorer with a block-max WAND fast path,
- scale features the reference lacks: doc-sharded, checkpointed index builds
  with lineage + metrics, dedup / similarity / text-quality operators for
  training-data pipelines.
"""

__version__ = "0.1.0"
