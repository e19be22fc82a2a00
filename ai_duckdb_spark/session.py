"""SparkSession factory.

The reference opens a fresh duckdb connection per query
(reference doc.py:241-243); the Spark-native equivalent is one
SparkContext whose root session, built here, gives each uploaded file a
child session via ``newSession()`` (registry.py; SURVEY.md §3 "Spark
restatement"). Child sessions take their SQL conf from the SparkConf
this builder writes, not from the root session's runtime conf.

Tuned for two regimes:
  * local[N] test/bench runs (shuffle partitions ~= cores, AQE coalesce),
  * large-cluster runs (AQE on, skew-join handling, broadcast thresholds) —
    the same declarative plans scale because partitioning decisions are
    left to Catalyst/AQE rather than hand-scheduled.
"""

from __future__ import annotations

import itertools
import os
import tempfile
import time
import zipfile
from typing import Callable

from pyspark.sql import SparkSession


def _ship_package(spark: SparkSession) -> None:
    """Make ``ai_duckdb_spark`` importable on executor Python workers.

    cloudpickle serializes module-level functions (pandas-UDF bodies,
    applyInPandasWithState callbacks) by reference, so workers must be able
    to import this package. The driver harness may launch from any cwd with
    only a driver-side ``sys.path`` tweak — that never reaches workers — so
    zip the package once per SparkContext and distribute via ``addPyFile``
    (the same mechanism used to ship code to a real cluster).
    """
    sc = spark.sparkContext
    if getattr(sc, "_ai_duckdb_pkg_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        tempfile.gettempdir(), f"ai_duckdb_spark_pkg_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, dirs, files in os.walk(pkg_dir):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for fname in files:
                if fname.endswith(".py"):
                    full = os.path.join(root, fname)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
    sc.addPyFile(zip_path)
    sc._ai_duckdb_pkg_shipped = True


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return max(1, int(cpus))
        except ValueError:
            pass
    return os.cpu_count() or 8


def widen_narrow_scan(df, *keys):
    """Repartition a relation up to the core count IF its scan is
    narrower — the fix for CPU-dense subtrees inheriting I/O-sized
    splits.

    Spark sizes parquet splits for I/O (maxPartitionBytes=128M), so a
    single ~100 MB documents file arrives as 2 partitions and every
    downstream per-row expression — tokenize, per-position xxhash64,
    array_sort — runs on 2 of 32 cores. Measured on the sf1.0 leakage
    matrix: the gram subtree alone took 3.7 s at 2 tasks vs 1.5 s
    widened, and the full entry fell 7.9 s -> 2.1 s with NO plan-shape
    change (a staged decomposition measured the suspected
    collect_set/explode shape innocent). The widen is conditional so it
    is inert at real scale: a 100 TB scan already carries ~10^5 splits, where an
    unconditional repartition would be a pure full-corpus shuffle.
    ``df.rdd.getNumPartitions()`` is driver-side plan introspection —
    no job runs.

    With ``keys`` the exchange is HASH partitioning on those columns
    instead of round-robin: a keyless ``repartition(n)`` first
    LOCALLY SORTS every input partition (sortBeforeRepartition, on by
    default since SPARK-23207, so retried tasks reproduce the same
    row-to-partition assignment) — on a 1-2-split scan that sort runs
    single-threaded over the whole relation, exactly the serialization
    the widen exists to remove. Hash partitioning is deterministic per
    row, needs no such sort, and a downstream operator keyed the same
    way can reuse the exchange. Use a high-cardinality key (guide
    §2.5: 20-100x more distinct values than partitions)."""
    n = default_parallelism()
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n, *keys) if keys else df.repartition(n)
    return df


# InferFiltersFromGenerate adds `size(e) > 0 AND isnotnull(e)` above every
# explode; predicate pushdown then substitutes the generator's FULL input
# expression into those filters and pushes them below repartitions to the
# scan. For the shingle operators that means the entire O(len·n) slice-hash
# transform is evaluated twice more, single-threaded, in the scan stage —
# measured 5-7× slowdown on dedup_bigram_jaccard_pairs at sf0.1. The
# inferred filters only help when a source can prune on them; none of our
# generators read from such a source, so exclude the rule session-wide.
_EXCLUDED_OPTIMIZER_RULES = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
)

# The engine's SQL semantics, written by get_spark into the SparkConf
# (where newSession() children read them) and re-pinned at runtime by
# pin_session_defaults on a session someone else built. ANSI mode
# (SURVEY §7 risk 1): error on bad casts / overflow / invalid array
# index like the DuckDB dialect does, instead of silently returning
# NULL — dialect fidelity for the NL→SQL path.
SQL_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.ansi.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.optimizer.excludedRules": _EXCLUDED_OPTIMIZER_RULES,
}


def _default_driver_memory() -> str:
    """Size the local-mode driver heap from host RAM.

    In ``local[N]`` the driver JVM *is* every executor: all N task
    threads, the shuffle blocks, the broadcast tables, and the state
    stores live in one heap. The old fixed 8g default left 32 threads
    ~256 MB each on a 128 GiB host; the full 155-query bench session
    spent its tail in GC (measured: warm total 114 s at 8g → 81 s at
    24g, same code). Default to a quarter of physical RAM clamped to
    [4g, 24g] — generous enough that long sessions never thrash, small
    enough to start on modest hosts. ``SPARK_GRAFT_DRIVER_MEM`` still
    overrides. On a real cluster this knob is inert: executor sizing
    comes from the cluster manager, not this builder.
    """
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    total_gb = None
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_gb = int(line.split()[1]) // (1024 * 1024)
                    break
    except OSError:
        pass
    # inside a cgroup-limited container /proc/meminfo reports HOST RAM;
    # sizing off it would request a heap the container cannot back and
    # OOM-kill the session at start. Take min(cgroup limit, MemTotal) —
    # v2 memory.max first, v1 memory.limit_in_bytes as fallback (both
    # report a huge sentinel or "max" when unlimited).
    for limit_path in (
        "/sys/fs/cgroup/memory.max",
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",
    ):
        try:
            with open(limit_path) as fh:
                raw = fh.read().strip()
            if raw != "max":
                cg_gb = int(raw) // (1024**3)
                if 0 < cg_gb < (total_gb if total_gb is not None else 1 << 20):
                    total_gb = cg_gb
            break
        except (OSError, ValueError):
            continue
    if total_gb is not None:
        return f"{min(24, max(4, total_gb // 4))}g"
    return "8g"


def get_spark(
    app_name: str = "ai_duckdb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    All settings are declarative-plan friendly: AQE re-plans shuffles at
    runtime (partition coalescing, skew-join splitting), Arrow accelerates
    the JVM<->Python edge for the pandas-UDF operators, and UTC pins
    timestamp semantics so results match the UTC-naive parquet fixtures.
    """
    cores = default_parallelism()
    if master is None:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = cores

    # Warm-import worker daemon (SCALE.md "the in-bench anomaly"):
    # Spark discards pooled Python workers idle >60 s (hardcoded
    # IDLE_WORKER_TIMEOUT_NS), and each respawned worker re-imports
    # numpy/pandas/pyarrow cold. daemon_warm pre-imports them in the
    # daemon parent so forks inherit warm modules (copy-on-write) —
    # measured pool respawn drops from ~8-16 s to the fork floor. The
    # daemon module is imported by name in a fresh interpreter, so the
    # package's parent dir must be on the CHILD's PYTHONPATH — exported
    # here before the JVM (the daemon's parent) launches.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_parent}{os.pathsep}{existing}" if existing else pkg_parent
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", _default_driver_memory())
        .config("spark.python.daemon.module", "ai_duckdb_spark.daemon_warm")
    )
    for key, value in {**SQL_CONFS, **(extra_conf or {})}.items():
        builder = builder.config(key, value)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def local_relation(spark: SparkSession, rows: list, schema: str) -> "DataFrame":
    """Driver-computed model/result rows as a TRUE LocalTableScan.

    ``spark.createDataFrame(list, schema)`` builds a PICKLED-RDD-backed
    plan (``Scan ExistingRDD``) parallelized to defaultParallelism — 32
    Python-worker tasks to serve a 3-row relation, on EVERY downstream
    action. That shape made every consumer hostage to the Python worker
    pool: when an earlier query's task interruption killed the pooled
    workers (observed: 33 worker deaths mid-session), the next
    local-relation consumer paid a ~31-process respawn ≈ +4.5 s on an
    idle host, tens of seconds under load — the bench's
    "mad_outlier_quantity regressed / png_pixel 13.4 s" anomalies
    (`git show 3654ee7:scripts/diag_workers.py` has the measurement; SCALE.md the
    writeup). Routing the same rows through pandas + Arrow yields a
    LocalTableScan: no RDD, no Python workers ever, broadcasts
    JVM-side, and the driver-to-JVM hop is one Arrow batch. On a real
    cluster the same property holds — model-sized relations (centroid
    tables, PQ codebooks, merge rules, driver-folded statistics) ship
    inside the plan instead of through a Python-task stage.

    Null fidelity: the rows go through an EXPLICIT pyarrow Table (typed
    per-column arrays built from the parsed Spark schema), not pandas —
    a pandas round-trip would coerce a ``None`` in a double column to
    NaN, and Spark NaN != NULL, silently diverging from the
    ``createDataFrame(list)`` semantics this helper replaces. With the
    Arrow table, ``None`` stays a true NULL on every type.

    Falls back to the classic path for empty row lists (pa.array still
    works on [], but zero-row relations are test-only here and the
    classic path is simplest) — our callers never produce one.
    """
    if not rows:
        return spark.createDataFrame(rows, schema=schema)
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(struct)
    # zip(*rows) truncates to the SHORTEST row — a ragged caller would
    # get columns silently dropped (the replaced pandas path raised).
    # Fail loudly instead.
    bad = [i for i, r in enumerate(rows) if len(r) != len(arrow_schema)]
    if bad:
        raise ValueError(
            f"local_relation: rows {bad[:5]} have {len(rows[bad[0]])} values, "
            f"schema has {len(arrow_schema)} fields"
        )
    columns = list(zip(*rows))
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema=struct)


def pin_session_defaults(spark: SparkSession) -> SparkSession:
    """Pin runtime-settable confs on an externally created session.

    The driver hands ``queries()`` callables an arbitrary SparkSession;
    UTC + adaptive execution are runtime-settable, so enforce them here
    instead of trusting the caller's builder config.
    """
    for key, value in SQL_CONFS.items():
        spark.conf.set(key, value)
    # the Spark default (200) over-parallelizes local runs; AQE coalesces
    # post-shuffle but the initial map still pays the fan-out
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        spark.conf.set("spark.sql.shuffle.partitions", str(default_parallelism()))
    _ship_package(spark)
    return spark


_JOB_GROUP_SEQ = itertools.count()


def timed_jobs(spark: SparkSession, label: str, thunk: Callable[[], object]) -> tuple[float, int]:
    """Run ``thunk`` under a job group of its own; returns (seconds it
    took, Spark jobs its group ran). Counting by group charges a job to
    the thunk that submitted it, also one AQE submits from a helper
    thread after the action has returned, which a before/after window
    over job ids charges to whatever runs next. The group is cleared
    afterwards."""
    sc = spark.sparkContext
    group = f"{label}#{next(_JOB_GROUP_SEQ)}"
    sc.setJobGroup(group, label)
    try:
        t0 = time.perf_counter()
        thunk()
        seconds = time.perf_counter() - t0
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return seconds, len(sc.statusTracker().getJobIdsForGroup(group))
