"""Shared pytest fixtures: one SparkSession per test run, a DuckDB oracle
connection with the fixture tables pre-registered, and a Spark-vs-DuckDB
comparator mirroring the driver's check (row count + column names +
order-insensitive values)."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ai_duckdb_spark.session import get_spark
from ai_duckdb_spark.tables import TABLE_NAMES, table_path

# Small SF for fast tests; the driver's own gate runs sf0.01.
TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    session = get_spark(app_name="ai_duckdb_spark_tests", shuffle_partitions=8)
    yield session


class SqlExecutionCounter:
    """Counts the SQL executions started since the last ``take()`` (or
    construction), read from the SQL status store that
    perfbench/sparkstats.py reads. Execution ids only grow, so counting
    the newest ids past a mark stays exact when the store's retention
    limit has evicted old executions."""

    def __init__(self, spark):
        self._spark = spark
        self._mark = -1
        self.take()

    def _executions(self):
        # the store is filled from listener events, which arrive asynchronously
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        return self._spark._jsparkSession.sharedState().statusStore().executionsList()

    def take(self) -> int:
        executions = self._executions()
        ids = []
        for i in reversed(range(executions.size())):
            execution_id = executions.apply(i).executionId()
            if execution_id <= self._mark:
                break
            ids.append(execution_id)
        self._mark = max(ids, default=self._mark)
        return len(ids)


@pytest.fixture
def sql_executions(spark) -> SqlExecutionCounter:
    return SqlExecutionCounter(spark)


class JobCounter:
    """The Spark jobs submitted since the last ``take()`` (or construction),
    read from the application status store. Job ids are 0 .. n-1 in
    submission order, so a mark on the submitted count is exact."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._mark = self._submitted()

    def _submitted(self) -> int:
        return self._sc._jsc.sc().dagScheduler().numTotalJobs()

    def take(self) -> list[int]:
        # job ends reach the store through listener events, asynchronously
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        start, self._mark = self._mark, self._submitted()
        return list(range(start, self._mark))

    def failed(self, job_ids) -> list[int]:
        tracker = self._sc.statusTracker()
        return [i for i in job_ids if tracker.getJobInfo(i).status == "FAILED"]

    def shuffle_write_bytes(self, job_ids) -> int:
        """Shuffle bytes written by the stages of these (taken) jobs."""
        store = self._sc._jsc.sc().statusStore()
        total = 0
        for job_id in job_ids:
            stage_ids = store.job(job_id).stageIds()
            for i in range(stage_ids.size()):
                total += store.lastStageAttempt(stage_ids.apply(i)).shuffleWriteBytes()
        return total


@pytest.fixture
def spark_jobs(spark) -> JobCounter:
    return JobCounter(spark)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return TEST_SF_DIR


@pytest.fixture(scope="session")
def oracle(sf_dir):
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_path(sf_dir, name)}')"
        )
    yield con
    con.close()


def _normalize(value):
    if isinstance(value, bool):
        return value
    if isinstance(value, int):
        # duckdb fetchdf renders nullable BIGINT as float64 — compare numerics
        # in one domain.
        return float(value)
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        # collapse -0.0/0.0 and bound repr noise
        return round(value, 9) + 0.0
    return value


def assert_frames_match(spark_df, duck_rel, query_name: str = "?"):
    """Order-insensitive, column-name-keyed comparison (driver-style)."""
    spark_cols = sorted(spark_df.columns)
    duck_df = duck_rel.fetchdf()
    duck_cols = sorted(duck_df.columns.tolist())
    assert spark_cols == duck_cols, f"{query_name}: columns {spark_cols} != {duck_cols}"

    spark_rows = [
        tuple(_normalize(row[c]) for c in spark_cols) for row in spark_df.collect()
    ]
    duck_records = duck_df.to_dict("records")
    duck_rows = [
        tuple(_normalize(_to_py(rec[c])) for c in duck_cols) for rec in duck_records
    ]
    assert len(spark_rows) == len(duck_rows), (
        f"{query_name}: row count {len(spark_rows)} != {len(duck_rows)}"
    )
    assert sorted(map(repr, spark_rows)) == sorted(map(repr, duck_rows)), (
        f"{query_name}: value mismatch\nspark sample: {sorted(map(repr, spark_rows))[:3]}\n"
        f"duck sample:  {sorted(map(repr, duck_rows))[:3]}"
    )


def _to_py(v):
    """numpy / pandas scalar → plain python for stable reprs."""
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return None
    if isinstance(v, np.generic):
        return v.item()
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, float) and pd.isna(v):
        return None
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    return v
