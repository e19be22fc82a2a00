"""Per-file table registry (SURVEY.md §2.2 K1).

The reference isolates each uploaded file in its own on-disk DuckDB
database and always names the table ``data_table`` (doc.py:113-119,
prompt rule doc.py:184). The Spark-native equivalent: one child session
(``SparkSession.newSession()``) per file, holding the file as the temp
view ``data_table``. Child sessions share the SparkContext and the cache
but not their temp views, so which table ``data_table`` means is fixed
at upload time and concurrent questions about different files cannot
see each other's tables.

Temp views are catalog metadata over lazy plans — registering N files
costs nothing until a query runs, unlike the reference's eager
full-table CTAS copy (SURVEY.md §4 "eager full materialization").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLE_NAME = "data_table"


class TableRegistry:
    """Maps each file id to the session that holds its ``data_table``."""

    def __init__(self):
        self._sessions: dict[str, SparkSession] = {}

    def register(self, file_id: str, df: DataFrame) -> str:
        """Register ``df`` as ``data_table`` in its own session, which
        must be the file's child session."""
        df.createOrReplaceTempView(TABLE_NAME)
        self._sessions[file_id] = df.sparkSession
        return TABLE_NAME

    def activate(self, file_id: str) -> SparkSession | None:
        """The session that answers questions about this file, if any."""
        return self._sessions.get(file_id)
