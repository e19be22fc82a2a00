"""The session memo for everything the catalog builds once.

Several catalog entries follow the build-once/query-many contract a
real pipeline has (nightly index build, many searches): an index — a
checkpointed DataFrame, a driver-sized model, an on-disk partitioned
directory — or a write-once fixture (sink copies, media files,
streaming replays, footer schemas) is built on first use and reused by
every later question in the session. ``session_memo`` is the one place
that does it: ``fn(spark, *args)`` is memoized per
``(spark.sparkContext.applicationId, *args)`` — a checkpoint handle
dies with its Spark application, so a new one rebuilds — and an entry
holding a ``make_tempdir`` directory that was removed while the
process lives is rebuilt instead of read as a dead path.

That is the right production shape, but it makes warm timings cache
hits; the memo registry gives the bench and scripts/time_entries.py
one honest lever:

* ``clear_index_caches()`` — empty every memo so the next run pays the
  full one-shot build (the ``--fresh`` measurement protocol).
* ``index_builders()`` — one thunk per memo named as a build at its
  decorator, which builds it AND forces materialization, so the
  one-shot build cost is timed as its own ``index_build`` line in the
  bench artifact instead of hiding inside whichever consumer entry
  happens to run first.
"""
from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
import threading
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..sources.io import parquet_footer_schema

# Every mkdtemp'd fixture dir (sinks, media dirs, persisted indexes,
# streaming checkpoints and replays) goes through make_tempdir, so the
# process removes them at exit instead of leaking one copy per sf_dir
# per process.
_TEMP_DIRS: set[str] = set()


def _cleanup_tempdirs() -> None:
    for path in _TEMP_DIRS:
        shutil.rmtree(path, ignore_errors=True)
    _TEMP_DIRS.clear()


atexit.register(_cleanup_tempdirs)


def make_tempdir(prefix: str, base: str | None = None) -> str:
    """mkdtemp under ``base`` (default: the system temp dir), removed at
    interpreter exit."""
    path = tempfile.mkdtemp(prefix=prefix, dir=base)
    _TEMP_DIRS.add(path)
    return path


_MEMOS: dict[str, dict] = {}  # memo name -> {(application id, *args): value}
_BUILDS: dict[str, Callable] = {}  # build name -> memoized fn, in definition order


def _stale(value) -> bool:
    """True when the entry holds a make_tempdir directory (alone or in a
    tuple) that no longer exists."""
    parts = value if isinstance(value, tuple) else (value,)
    return any(
        isinstance(p, str) and p in _TEMP_DIRS and not os.path.isdir(p) for p in parts
    )


def session_memo(build: str | None = None):
    """Decorator: memoize ``fn(spark, *args)`` per (Spark application,
    *args). ``build`` names a memo the bench times as an index build.
    Concurrent callers of one memo wait for a single build."""

    def wrap(fn: Callable) -> Callable:
        memo: dict = {}
        lock = threading.Lock()
        _MEMOS[build or f"{fn.__module__}.{fn.__qualname__}"] = memo

        @functools.wraps(fn)
        def cached(spark: SparkSession, *args):
            key = (spark.sparkContext.applicationId, *args)
            with lock:
                if key not in memo or _stale(memo[key]):
                    memo[key] = fn(spark, *args)
                return memo[key]

        if build:
            _BUILDS[build] = cached
        return cached

    return wrap


@session_memo()
def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema of the parquet file at ``path``, read from its footer on
    the driver (``sources.io.parquet_footer_schema``, no Spark job) once
    per Spark application: a fixture file does not change within a
    session. A TIMESTAMP(NANOS) file needs ``nanosAsLong`` set before the
    first call (see tables.load)."""
    return parquet_footer_schema(spark, path)


def clear_index_caches() -> list[str]:
    """Empty every memo; returns the names that held entries."""
    cleared = [name for name, memo in _MEMOS.items() if memo]
    for memo in _MEMOS.values():
        memo.clear()
    return cleared


def _force(value) -> None:
    """count() a DataFrame value; a tuple is forced through its last
    frame, which is derived from the ones before it. Models and
    directories are materialized by the build itself."""
    if isinstance(value, tuple):
        value = value[-1]
    if isinstance(value, DataFrame):
        value.count()


def index_builders() -> dict[str, Callable[[SparkSession, str], None]]:
    """Build name → thunk that builds the index for (spark, sf_dir) and
    forces materialization."""

    def forced(fn: Callable) -> Callable[[SparkSession, str], None]:
        return lambda spark, sf_dir: _force(fn(spark, sf_dir))

    return {name: forced(fn) for name, fn in _BUILDS.items()}
