"""Structured Streaming catalog entries (SURVEY.md §2.9 X1 [D]): every
``streaming_*`` entry is registered where it is defined, in windows.py
(readStream queries, memory and foreachBatch sinks) or stateful.py
(arbitrary per-key state); ai_duckdb_spark.queries imports both. The
three with a batch twin in queries/ run the twin's transformation and
oracle over a stream."""
