"""Custom stateful streaming operator (SURVEY.md §2.9 X1 —
``applyInPandasWithState``).

Running per-user statistics maintained across micro-batches: the state
holds (event_count, value_sum) per user_id and each batch emits the
updated totals. This is the Structured Streaming shape for operators
that windowed aggregation can't express (arbitrary per-key state
machines — session scoring, fraud counters, CDC folding).

State is partitioned by the grouping key across executors; the pandas
function sees one key's rows per call with its own GroupState — no
cross-key coordination, which is what lets state scale horizontally.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# the module, not its names: importing windows first imports the query
# catalog, which imports this module while windows is still half-built
from . import windows
from ..queries.catalog import register

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_cents", T.LongType()),
    ]
)


def _cents_total(pdf: pd.DataFrame) -> int:
    """Exact integer-cents sum of this batch's 2-decimal values.

    Same fixed-point scheme as functions/exact.py cents(): floating sums
    are order-dependent across engines, integer sums are not, so state
    holds exact cents and only the emission converts to double (via
    decimal division — the identical nearest-double DuckDB produces
    casting its DECIMAL sum)."""
    import numpy as np

    v = pdf["value"].to_numpy(dtype="float64")
    return int(np.floor(v * 100.0 + 0.5).astype(np.int64).sum())


def _emit_total(key: tuple, n: int, cents: int) -> pd.DataFrame:
    from decimal import Decimal

    total = float(Decimal(cents) / Decimal(100))
    return pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [total]})


def _update_user_totals(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold this batch's rows for one user into the running state."""
    n, cents = state.get if state.exists else (0, 0)
    for pdf in batches:
        n += len(pdf)
        cents += _cents_total(pdf)
    state.update((n, cents))
    yield _emit_total(key, n, cents)


def _final_state(spark: SparkSession, emissions: DataFrame) -> DataFrame:
    """Drain an update-mode stream of per-user running totals and keep
    each user's final state. The memory sink appends every emission, and
    a user's n_events only grows, so the row with the largest n_events
    is the latest."""
    return (
        windows._memory_sink(spark, emissions, "update")
        .groupBy("user_id")
        .agg(
            F.max_by("total_value", "n_events").alias("total_value"),
            F.max("n_events").alias("n_events"),
        )
        .select("user_id", "n_events", "total_value")
        .orderBy("user_id")
    )


@register(
    "streaming_stateful_user_totals",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           CAST(CAST(sum(CAST(round(value, 2) AS DECIMAL(28,2))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM events
    GROUP BY user_id
    """,
)
def streaming_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-stateful running totals per user over the event stream
    (applyInPandasWithState). The final state after the replay equals
    the batch GROUP BY user_id totals, so the oracle is that batch
    aggregate; state accumulates exact integer cents (functions/exact.py
    scheme) so the hash matches bit-for-bit.

    The state function reads only ``value`` (plus the grouping key), but
    applyInPandasWithState is opaque to Catalyst — without an explicit
    projection EVERY event column (event_id, event_type, ts, the props
    JSON string) is shuffled to the state partitions and crosses the
    JVM→Arrow→pandas boundary per key (optimization guide §4: pass only
    the columns the function needs). Narrowing to (user_id, value)
    halved the measured batch time at sf1.0 (addBatch ~8.0 s → ~4.3 s,
    same host, 1M rows / 15k keys / 1 micro-batch; the
    residue is the per-key state-machine floor: 15k GroupState
    roundtrips + per-group pandas slices, which IS the operator being
    exercised)."""
    out = (
        windows._fixture_stream(spark, sf_dir, "events")
        .select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_totals,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return _final_state(spark, out)


def running_user_totals_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals via ``transformWithStateInPandas`` — the
    Spark 4 arbitrary-state API (explicit ValueState handles, timers,
    RocksDB state store) that supersedes applyInPandasWithState.

    Requires the RocksDB state store provider (the HDFS-backed default
    does not support transformWithState); set per-session here, which
    is also the provider you would run at scale for large state.
    """
    try:  # the API's state-server protocol needs protobuf at runtime
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "transformWithStateInPandas needs the google.protobuf runtime, "
            "which is unavailable in this environment; use "
            "streaming_stateful_user_totals (applyInPandasWithState) instead"
        ) from exc
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class Processor(StatefulProcessor):
        def init(self, handle) -> None:
            self._totals = handle.getValueState("totals", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            n, cents = self._totals.get() if self._totals.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                cents += _cents_total(pdf)
            self._totals.update((n, cents))
            yield _emit_total(key, n, cents)

        def close(self) -> None:
            pass

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    out = (
        windows._fixture_stream(spark, sf_dir, "events")
        .select("user_id", "value")  # same §4 narrowing as the aIPWS tier
        .groupBy("user_id")
        .transformWithStateInPandas(
            Processor(),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )
    return _final_state(spark, out)
