"""Test-table access helpers.

The driver fixtures (TESTDATA.md / FIXTURES.md §B) are one parquet file
per table under ``/root/testdata/sf*/``. Every query builder goes through
``load`` so scans stay native parquet reads — Catalyst then gets predicate
pushdown, column pruning, and partition-size splitting for free. At
cluster scale the same reads parallelize across executors because parquet
splits by row group; nothing here assumes single-node.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import pin_session_defaults

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def convert_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``ts`` to a session-zone TIMESTAMP whatever the file has.

    Fixture generations have carried ``ts`` as parquet TIMESTAMP(NANOS)
    (read as nanos-since-epoch long under ``nanosAsLong``; truncated
    ns → µs with floor division, so downstream second/ms bucketing is
    identical) or as TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as
    TIMESTAMP_NTZ). NTZ is cast to the session-zone type — the session
    timezone is pinned UTC, so wall-clock values are unchanged and
    instant functions (``unix_millis``, watermarks) stay available.
    """
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dt == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Native parquet scan for one fixture table.

    ``events.ts`` needs normalization (see ``convert_event_ts``): NANOS
    generations are read as nanos-since-epoch long
    (legacy.parquet.nanosAsLong — Spark's vectorized reader rejects
    TIMESTAMP(NANOS) outright), MICROS generations arrive as
    TIMESTAMP_NTZ. Either way it's still a native columnar scan, no
    driver-side materialization. The schema is read from the footer on
    the driver once per session (``caches.parquet_schema``, which needs
    ``nanosAsLong`` set first), so no load runs a job.
    """
    # imported here: the queries package imports every query module, and
    # each of those imports this one
    from .queries.caches import parquet_schema

    pin_session_defaults(spark)
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(sf_dir, name)
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    return convert_event_ts(df) if name == "events" else df


def register_views(spark: SparkSession, sf_dir: str, names=TABLE_NAMES) -> None:
    """Register fixture tables as temp views for ``spark.sql`` queries."""
    for name in names:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
