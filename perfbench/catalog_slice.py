"""A fixed slice of the operator catalog, timed like ``bench.py``.

One cold pass over the slice, then warm passes, each entry built and
materialized with Arrow ``toPandas``. Each entry's output is
hash-compared once with its DuckDB oracle (untimed). The index
builds run last, each after ``clear_index_caches()`` so it pays the full
one-shot build.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os
import time

import duckdb
import numpy as np
import pandas as pd

# one entry per operator tier, trimmed to fit the run length (the
# streaming tier too: at 8 s a run it was the slice's dearest entry)
ENTRIES = (
    "flagship_revenue_argmax",  # relational / TPC-H
    "text_token_stats",  # text / corpus
    "multimodal_pixel_stats",  # media (Python workers)
)
BUILDS = ("bpe_merges",)
TABLES = ("region nation customer supplier part orders lineitem events documents "
          "embeddings").split()


def _norm(v) -> str:
    """One spelling per value for Spark's pandas frames and DuckDB rows."""
    if isinstance(v, np.ndarray):
        v = v.tolist()
    elif isinstance(v, np.generic):
        v = v.item()
    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (int, decimal.Decimal)):
        v = float(v)
    if isinstance(v, float):
        return f"{round(v, 9) + 0.0:.9f}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    return str(v)


def value_hash(columns, rows) -> str:
    """Order-insensitive hash of rows, columns taken in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def oracle_mismatches(outputs: dict[str, pd.DataFrame], sf_dir: str) -> list[str]:
    """Entries whose output differs from their DuckDB oracle."""
    from ai_duckdb_spark.queries import catalog

    con = duckdb.connect()
    try:
        for name in TABLES:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf_dir, name + '.parquet')}')")
        bad = []
        for name, pdf in outputs.items():
            rel = con.sql(catalog.REGISTRY[name].oracle)
            columns, rows = list(rel.columns), rel.fetchall()
            got_cols = list(pdf.columns)
            got = list(pdf.itertuples(index=False, name=None))
            if (sorted(got_cols) != sorted(columns) or len(got) != len(rows)
                    or value_hash(got_cols, got) != value_hash(columns, rows)):
                bad.append(name)
        return bad
    finally:
        con.close()


def run_slice(spark, sf_dir: str, tracer, warm_passes: int) -> dict:
    """Returns per-entry cold seconds, warm seconds lists, build seconds,
    and each entry's output for the oracle check."""
    from ai_duckdb_spark.queries import caches, catalog

    def timed(name: str, thunk) -> float:
        with tracer.span(name, by_job_range=True):
            t0 = time.perf_counter()
            thunk()
            return time.perf_counter() - t0

    outputs: dict[str, pd.DataFrame] = {}

    def build(name):
        def thunk():
            outputs[name] = catalog.REGISTRY[name].builder(spark, sf_dir).toPandas()
        return thunk

    cold = {name: timed(f"catalog.{name}", build(name)) for name in ENTRIES}
    warm: dict[str, list[float]] = {name: [] for name in ENTRIES}
    for _ in range(warm_passes):
        for name in ENTRIES:
            warm[name].append(timed(f"catalog.{name}", build(name)))
    builders = caches.index_builders()
    builds = {}
    for name in BUILDS:
        caches.clear_index_caches()
        builds[name] = timed(f"index_build.{name}", lambda: builders[name](spark, sf_dir))
    return {"cold": cold, "warm": warm, "builds": builds, "outputs": outputs}
