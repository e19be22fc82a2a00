"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

The catalog itself lives in ``ai_duckdb_spark.queries`` — one QuerySpec
per implemented operator from SURVEY.md §2, each pairing an idiomatic
Spark DataFrame builder with an equivalent DuckDB oracle SQL string
(oracle omitted only for ops that are approximate or use Spark-internal
hash families — MinHash/SimHash/LSH/sketches/sampling — whose ground
truth is the exact oracle-checked tiers plus tests/). The row-by-row
SURVEY §2 -> implementation map is COVERAGE.md.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from ai_duckdb_spark.queries import catalog  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The reference's flagship shape (reference README.md:61-62: group-sum
    of a computed measure + argmax) transposed to lineitem.
    """
    return catalog.REGISTRY[catalog.FLAGSHIP].builder(spark, SMOKE_SF_DIR)


def _driver_order() -> list[catalog.QuerySpec]:
    """Catalog entries with the driver window, computed from the
    CORRECTNESS_r*.json artifacts beside this file, first."""
    window = catalog.driver_window(catalog.driver_row_ages(ROOT))
    rest = [s for n, s in catalog.REGISTRY.items() if n not in window]
    return [catalog.REGISTRY[n] for n in window] + rest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {s.name: s.builder for s in _driver_order()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each oracle-checkable query."""
    return {s.name: s.oracle for s in _driver_order() if s.oracle is not None}
