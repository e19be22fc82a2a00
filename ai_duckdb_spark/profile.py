"""Data profiling (SURVEY.md §2.5 G7 / §1.1 "data_info").

Mirrors the reference's profile record (doc.py:104-110) — same keys, same
shapes — so the prompt builder and formatter consume it unchanged:

    {"行数": n, "列数": n, "列名": [...], "数据类型": {col: dtype},
     "前5行数据": [row-dicts], "table_name": "data_table"}

Differences, by design:
  * dtypes are Spark simpleString names (bigint/double/string/...), not
    pandas dtype strings — the engine's real types;
  * ``table_name`` replaces the reference's ``db_path`` (per-file .duckdb
    file, doc.py:113-119): the Spark-native equivalent of a persisted
    per-file table is the temp view ``data_table`` in the file's own
    child session (set by the engine, registry.py).

Scale note: a small file arrives as a cached single-partition copy
(engine.py). The 5-row head then materializes the whole copy in one
job, and the row count is read from the cached relation's statistics
with no job at all, falling back to ``count()`` when the copy is not
fully loaded. A plain ``count()`` beside the head would run two more
jobs, and measured 0.02-0.07 s more per upload. If the storage LRU later
evicts the copy, a question reads the file again through its lineage.

A larger file stays a lazy scan: ``count()`` is a full-scan aggregate
and ``limit(5)`` a cheap head, both distributed actions — no driver
materialization of the data itself. Neither depends on the other, so
they run concurrently: the count from a helper thread that inherits the
caller's job group, local properties and session tags, so cancelling or
attributing the caller's jobs covers both. An upload waits for the
slower action, not for their sum; each one's fixed per-job driver cost
dominates at upload sizes.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.util import inheritable_thread_target


def _json_safe(v):
    # the profile travels through json.dumps (metadata.save_file_info),
    # flask jsonify, and the NL prompt — Spark rows carry date/datetime/
    # Decimal/bytearray scalars none of those accept, so normalize here
    # (date-typed CSV uploads 500'd the /api/upload route before this)
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, (list, tuple)):
        return [_json_safe(x) for x in v]
    if isinstance(v, dict):
        return {k: _json_safe(x) for k, x in v.items()}
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def _cached_row_count(df: DataFrame) -> int:
    """The row count of a cached frame: exact in the statistics of its
    in-memory relation once the copy is loaded, else a ``count()``."""
    try:
        relation = df._jdf.queryExecution().optimizedPlan()  # noqa: SLF001
        if relation.cacheBuilder().isCachedColumnBuffersLoaded():
            return int(relation.stats().rowCount().get())
    except Exception:
        pass  # not loaded, or the JVM accessors are unreachable: count
    return df.count()


def profile_dataframe(df: DataFrame) -> dict:
    if df.is_cached:
        head = df.limit(5).collect()
        row_count = _cached_row_count(df)
    else:
        # a fresh thread per call: a pooled one would keep the tags it inherited
        with ThreadPoolExecutor(max_workers=1) as pool:
            count = pool.submit(inheritable_thread_target(df.sparkSession)(df.count))
            head = df.limit(5).collect()
        row_count = count.result()
    return {
        "行数": row_count,
        "列数": len(df.columns),
        "列名": list(df.columns),
        "数据类型": dict(df.dtypes),
        "前5行数据": [_json_safe(row.asDict()) for row in head],
    }
