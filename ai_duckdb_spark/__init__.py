"""ai_duckdb_spark — a PySpark-native analytics engine.

Brand-new engine with the query and data-processing capabilities of the
reference (Arterning/ai-duckdb, surveyed in SURVEY.md): multi-format
ingestion with schema inference and profiling, a NL->SQL->execute pipeline
with enforced SELECT-only safety, the full analytic SELECT surface
(delegated to Spark SQL / Catalyst instead of DuckDB), result shaping,
a session/file metadata layer, plus scale-path LLM-data-pipeline operators
(dedup, similarity search, text analysis, streaming windows, multimodal
column plumbing).

Layout:
    session.py    SparkSession factory tuned for local + cluster use
    tables.py     test-table loading / temp-view registration helpers
    sources/      ingestion: suffix gate, csv/parquet/excel/json 3-tier
    profile.py    data_info profiling (reference doc.py:104-110 semantics)
    registry.py   per-file table registry ("data_table" scoping)
    executor.py   SQL sanitation + SELECT-only gate + capped execution
    formatter.py  markdown result shaping (reference app.py:35-107)
    metadata.py   sqlite sessions/files/chat_records store (database.py)
    nl2sql.py     pluggable NL->SQL generator (offline stub + optional LLM)
    queries/      the operator catalog (Spark builder + DuckDB oracle)
    operators/    dedup, similarity, text stats, as-of join, multimodal
    streaming/    Structured Streaming variants of the window operators
"""

__version__ = "0.1.0"
