"""Per-file table registry (SURVEY.md §2.2 K1).

The reference isolates each uploaded file in its own on-disk DuckDB
database and always names the table ``data_table`` (doc.py:113-119,
prompt rule doc.py:184). The Spark-native equivalent: one child session
(``SparkSession.newSession()``) per file, holding the file as the temp
view ``data_table``. Child sessions share the SparkContext and the cache
but not their temp views, so which table ``data_table`` means is fixed
at upload time and concurrent questions about different files cannot
see each other's tables.

For a file no larger than ``engine.COPY_MAX_BYTES`` the registered
frame is the engine's in-memory copy (the reference's per-file CTAS
copy); a larger file's is a lazy scan. Re-registering a file id
releases the copy it held, so a caller that re-analyzes the same file
on every question pins one copy, not one per call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLE_NAME = "data_table"


class TableRegistry:
    """Maps each file id to the frame registered as its ``data_table``."""

    def __init__(self):
        self._frames: dict[str, DataFrame] = {}

    def register(self, file_id: str, df: DataFrame) -> str:
        """Register ``df`` as ``data_table`` in its own session, which
        must be the file's child session, and release the copy the file
        id held before unless ``df`` reads that same copy (the same file
        re-analyzed: the cache keys copies by plan)."""
        df.createOrReplaceTempView(TABLE_NAME)
        old, self._frames[file_id] = self._frames.get(file_id), df
        if old is not None and not old.sameSemantics(df):
            old.unpersist()
        return TABLE_NAME

    def activate(self, file_id: str) -> SparkSession | None:
        """The session that answers questions about this file, if any."""
        df = self._frames.get(file_id)
        return None if df is None else df.sparkSession
