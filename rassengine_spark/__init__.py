"""rassengine_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of NeuralRevenant/RASSEngine.

The reference is a retrieval-augmented semantic-search service that delegates
its data plane (lexical scoring, kNN, aggregation, filtering, collapse) to
OpenSearch (reference: app/main.py:1395-2150). This package re-implements that
data plane as idiomatic Spark DataFrame pipelines:

- ``functions/``  — scoring/text/vector expression builders (pure Column exprs,
  whole-stage-codegen friendly; no Python UDFs in the hot path).
- ``operators/``  — the 12 intent-routed search operators plus windows/collapse
  (SURVEY.md §2.3-§2.5).
- ``sources/``    — FHIR/text/markdown ingestion, chunker, parquet sinks
  (SURVEY.md §2.1).
- ``ml/``         — pluggable embedding / intent / NER with deterministic
  defaults (SURVEY.md §2.8).
- ``llmops/``     — large-scale training-data pipeline ops: dedup (exact,
  minhash-LSH, simhash, n-gram Jaccard, embedding cosine), similarity search,
  text analysis, multimodal column plumbing.
- ``pipeline/``   — the /ask lifecycle (route -> search -> context assembly)
  and batch ingestion job (SURVEY.md §3).
"""

__version__ = "0.1.0"
