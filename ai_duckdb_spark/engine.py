"""End-to-end engine facade (SURVEY.md §3 "Spark restatement").

The reference pipeline per entry point E1-E3:

    file → pandas → profile → per-file DuckDB CTAS → NL→SQL (Gemini)
         → fence strip → execute → records

restated Spark-first:

    file → child session → spark.read → in-memory copy (small files)
         → profile → register as that session's data_table
         → NL→SQL (pluggable) → fence strip → REAL select-only gate
         → spark.sql → Catalyst → capped records → markdown

Differences that are the point (SURVEY.md §4): one SparkContext, with a
child session per file in place of a DuckDB database per file and a
connect-per-query (reference doc.py:241-243); an enforced safety gate
instead of a prompt promise; a collect cap instead of unbounded fetchdf.

Like the reference's CTAS, a file no larger than ``COPY_MAX_BYTES`` is
copied once and every question reads the copy: one cached partition,
so an aggregate needs no exchange and an answer is one Spark job. The
copy is a cache, not a checkpoint: the storage LRU bounds it, and an
evicted copy is read again from the file through its lineage. A larger
file stays a lazy scan, the scale path.

The loader reads a parquet file's schema, and a JSON file's up to the
same cut, on the driver (``sources/io.py``). A parquet or small JSON
upload therefore runs one Spark job, the profile's, which builds the
copy; a CSV upload also runs the reader's two inference jobs.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import SparkSession

from .executor import UnsafeSqlError, clean_sql_response, execute_sql
from .nl2sql import SqlGenerator, StubSqlGenerator
from .profile import profile_dataframe
from .registry import TableRegistry
from .sources.io import ERR_EMPTY, load_data_from_file

# The copy is built in one task, so its upload cost grows with the file
# while the time it saves per answer does not. Measured through the web
# app at local[2] on a 4-core host, against the lazy scan: 0.6 MB of
# parquet adds 0.09 s to the upload and saves 0.04 s per answer; 1.2 MB
# adds 0.19 s for the same saving; 8 MB adds 1.4 s and answers get slower
# (one task scans what two did). CSV, with fewer rows per byte and a
# parse that every answer from the copy skips, repays 1 MB within three
# answers. Parquet, the densest format, sets the cut: three answers repay
# a copy of 512 KiB. The loader also reads JSON files up to this size
# whole on the driver to infer their schema there.
COPY_MAX_BYTES = 512 * 1024


class AnalyticsEngine:
    """File-scoped analytic Q&A over Spark SQL."""

    def __init__(self, spark: SparkSession, generator: SqlGenerator | None = None):
        self.spark = spark
        self.registry = TableRegistry()
        self.generator = generator or StubSqlGenerator()

    # -- E2: upload/analyze ------------------------------------------------
    def analyze_file(self, file_path: str, file_id: str | None = None) -> dict:
        """Load + profile + register (reference analyze_file, doc.py:86-132).

        Returns {"success": True, "data_info": {...}} or {"error": msg}.
        The file is loaded through a new child session and registered
        there as ``data_table``; data_info carries ``table_name`` where
        the reference carried ``db_path`` (per-file DuckDB file →
        per-file session). A file no larger than ``COPY_MAX_BYTES`` is
        served from an in-memory copy that the profile materializes. A
        file without rows is rejected with ``ERR_EMPTY`` by the
        profile's row count, before anything is registered.
        """
        df, error = load_data_from_file(self.spark.newSession(), file_path)
        if error:
            return {"error": error}
        if os.path.isfile(file_path) and os.path.getsize(file_path) <= COPY_MAX_BYTES:
            df = df.coalesce(1)
            df.unpersist()  # drop an earlier copy of this file: it may be stale
            df.persist(StorageLevel.MEMORY_ONLY)
        data_info = profile_dataframe(df)
        if data_info["行数"] == 0:
            df.unpersist()
            return {"error": ERR_EMPTY}

        file_id = file_id or os.path.splitext(os.path.basename(file_path))[0]
        data_info["table_name"] = self.registry.register(file_id, df)
        data_info["file_id"] = file_id
        return {"success": True, "data_info": data_info}

    # -- E1/E3: question over an analyzed file ------------------------------
    def analyze_data_with_ai(
        self, file_path: str, question: str, data_info: dict | None = None
    ) -> dict:
        """NL question → SQL → gated execution → reference-shaped result
        (reference analyze_data_with_ai, doc.py:134-260)."""
        file_id = (data_info or {}).get("file_id")
        session = self.registry.activate(file_id)
        if session is None:
            analyzed = self.analyze_file(file_path, file_id)
            if "error" in analyzed:
                return analyzed
            data_info = analyzed["data_info"]
            session = self.registry.activate(data_info["file_id"])

        file_name = os.path.basename(file_path)
        try:
            sql_query = self.generator.generate(file_name, data_info, question)
        except Exception as e:  # reference doc.py:207-210
            return {"error": f"SQL生成失败: {e}"}
        if not sql_query or not sql_query.strip():
            return {"error": "SQL查询生成失败"}

        try:
            result = execute_sql(session, sql_query)
        except UnsafeSqlError as e:
            return {"error": str(e)}
        except Exception as e:  # reference doc.py:245-248
            return {"error": f"查询执行失败: {e}"}

        return {
            "question": question,
            "sql_query": clean_sql_response(sql_query),
            "data_info": data_info,
            "result": result,
        }
