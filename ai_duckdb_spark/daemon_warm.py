"""Python-worker daemon with pre-warmed imports.

Spark 4.1's ``PythonWorkerFactory`` discards pooled Python workers that
sat idle for more than ``IDLE_WORKER_TIMEOUT_NS`` (a hardcoded 60 s —
"process from idle queue is dead, discarding"), so any session where
Python-using queries are separated by a minute of JVM-only work (or by
an interleaved DuckDB oracle pass, as in bench.py) re-pays a FULL pool
respawn at the next pandas-UDF entry. Measured on local[32]: 64
workers die and 64 are forked, 8-16 s uncontended and up to a minute
under host load — a 13.4 s `multimodal_png_pixel_stats` anomaly in a
driver artifact (SCALE.md "the in-bench anomaly, named and fixed").

The respawn is expensive because every forked worker re-imports the
UDF dependency stack (numpy, pandas, pyarrow, the shipped engine
package) at first task deserialization. This module is a drop-in
``spark.python.daemon.module`` replacement that performs those imports
ONCE in the daemon parent; forked workers inherit the warm modules via
copy-on-write, cutting per-worker respawn to the fork + handshake
floor. Pure public mechanics: ``python -m ai_duckdb_spark.daemon_warm``
must behave exactly like ``python -m pyspark.daemon``, so it delegates
to :func:`pyspark.daemon.manager` after warming.

Every warm import is best-effort: a missing optional dep must never
take the daemon down (workers would become unspawnable), so failures
degrade to the stock cold-import behavior.

DEPLOYMENT REQUIREMENT: ``spark.python.daemon.module``
makes every executor's daemon startup import THIS package by name in a
fresh interpreter. The warm imports inside degrade gracefully, but the
module itself must be importable — on a real multi-node cluster the
package must be installed on executors (pip install / --py-files /
cluster image), or daemon startup fails hard with no fallback to
``pyspark.daemon``, breaking all Python-UDF queries. ``get_spark``
exports the package parent onto ``PYTHONPATH`` before the JVM launches
(sufficient for local[*] and for clusters with a shared filesystem);
to opt out entirely pass
``extra_conf={"spark.python.daemon.module": "pyspark.daemon"}`` —
extra_conf is applied after the default and overrides it. Failure mode
and mitigation are documented in SCALE.md §"Python worker pool".
"""

from __future__ import annotations


def _warm() -> None:
    for mod in (
        "numpy",
        "pandas",
        "pyarrow",
        "pyspark.sql.pandas.serializers",
        "pyspark.sql.pandas.types",
        "ai_duckdb_spark.operators.multimodal",
        "ai_duckdb_spark.functions.udf",
    ):
        try:
            __import__(mod)
        except Exception:  # noqa: BLE001 — degrade to cold imports, never die
            pass


if __name__ == "__main__":
    _warm()
    from pyspark.daemon import manager

    manager()
