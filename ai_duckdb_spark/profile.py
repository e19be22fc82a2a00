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

Scale note: ``count()`` is a full-scan aggregate and ``limit(5)`` a
cheap head; both are distributed actions — no driver materialization of
the data itself. Neither depends on the other, so they run concurrently:
the count from a helper thread that inherits the caller's job group,
local properties and session tags, so cancelling or attributing the
caller's jobs covers both. An upload waits for the slower action, not
for their sum; each one's fixed per-job driver cost dominates at upload
sizes.
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


def profile_dataframe(df: DataFrame) -> dict:
    # a fresh thread per call: a pooled one would keep the tags it inherited
    with ThreadPoolExecutor(max_workers=1) as pool:
        row_count = pool.submit(inheritable_thread_target(df.sparkSession)(df.count))
        head = [_json_safe(row.asDict()) for row in df.limit(5).collect()]
    return {
        "行数": row_count.result(),
        "列数": len(df.columns),
        "列名": list(df.columns),
        "数据类型": dict(df.dtypes),
        "前5行数据": head,
    }
