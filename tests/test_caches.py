"""The session memo (queries/caches.py): every build-once/query-many
index and write-once fixture is memoized per (Spark application, args)
in one registry, which the bench's index_build lines and the --fresh
lever are computed from."""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time
from types import SimpleNamespace

from ai_duckdb_spark import tables
from ai_duckdb_spark.queries import caches, extras_q, similarity_q, tpch_deep2
from ai_duckdb_spark.session import timed_jobs
from ai_duckdb_spark.streaming import windows

# Spark jobs of each index build at sf0.001 under the bench protocol
# (memos cleared once, then every build in order). A fixture table's
# schema is read from its footer on the driver, so loading a table runs
# no job. ivf_persisted_index reuses the memoized quantizer instead of
# training the same k-means again. The two connected-components builds
# vary by one job between runs of the same code.
BUILD_JOBS = {
    "minhash_core": {9},
    "minhash_component_labels": {15, 16},
    "portable_minhash_pairs": {7},
    "jaccard095_labels": {21, 22},
    "ivf_quantizer": {14},
    "ivf_persisted_index": {4},
    "nndescent_graph": {42},
    "pq_codebooks": {16},
    "bpe_merges": {26},
}


def test_index_builders_are_the_named_memos_in_order():
    assert list(caches.index_builders()) == list(BUILD_JOBS)


def test_index_build_job_counts(spark, sf_dir):
    caches.clear_index_caches()
    got = {
        name: timed_jobs(spark, name, lambda: build(spark, sf_dir))[1]
        for name, build in caches.index_builders().items()
    }
    assert {name: n for name, n in got.items() if n not in BUILD_JOBS[name]} == {}


def test_second_call_runs_no_spark_job(spark, sf_dir, spark_jobs):
    caches.clear_index_caches()
    first = similarity_q.shared_kmeans_model(spark, sf_dir)
    assert spark_jobs.take()  # the build trains the model
    assert similarity_q.shared_kmeans_model(spark, sf_dir) is first
    assert spark_jobs.take() == []


def test_clear_empties_every_memo(spark, sf_dir):
    tpch_deep2._dim_literals(spark, sf_dir)
    extras_q._lineitem_orc_dir(spark, sf_dir)
    windows._latedrop_replay(spark, sf_dir)
    cleared = caches.clear_index_caches()
    assert {
        "ai_duckdb_spark.queries.tpch_deep2._dim_literals",
        "ai_duckdb_spark.queries.extras_q._lineitem_orc_dir",
        "ai_duckdb_spark.streaming.windows._latedrop_replay",
    } <= set(cleared)
    assert [name for name, memo in caches._MEMOS.items() if memo] == []


def test_removed_memo_dir_is_rebuilt(spark, sf_dir):
    path = extras_q._lineitem_orc_dir(spark, sf_dir)
    assert extras_q._lineitem_orc_dir(spark, sf_dir) == path
    shutil.rmtree(path)
    rebuilt = extras_q._lineitem_orc_dir(spark, sf_dir)
    assert rebuilt != path and os.listdir(rebuilt)

    # a tuple of directories is stale when any one of them is gone
    small, compacted = extras_q._compacted_docs_dirs(spark, sf_dir)
    shutil.rmtree(compacted)
    assert all(map(os.path.isdir, extras_q._compacted_docs_dirs(spark, sf_dir)))


def test_concurrent_callers_share_one_build():
    runs = []

    @caches.session_memo()
    def slow_build(spark, key):
        runs.append(key)
        time.sleep(0.05)
        return object()

    spark = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app"))
    got = []
    threads = [
        threading.Thread(target=lambda: got.append(slow_build(spark, "k")))
        for _ in range(4 * (os.cpu_count() or 1))
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert runs == ["k"] and len(got) == len(threads) and len(set(map(id, got))) == 1


def test_second_load_runs_no_job(spark, sf_dir, spark_jobs):
    # the schema is read from the footer on the driver, once per table and
    # session, for plain tables and for the nanosAsLong events: no load
    # runs a job
    caches.clear_index_caches()
    for name in ("lineitem", "events"):
        first = tables.load(spark, sf_dir, name)
        assert spark_jobs.take() == []
        second = tables.load(spark, sf_dir, name)
        assert spark_jobs.take() == []
        assert second.schema == first.schema
    assert dict(second.dtypes)["ts"] == "timestamp"
    plain = spark.read.parquet(tables.table_path(sf_dir, "lineitem")).schema
    assert tables.load(spark, sf_dir, "lineitem").schema == plain


def test_timed_jobs_counts_its_own_group(spark):
    sc = spark.sparkContext
    seconds, jobs = timed_jobs(spark, "probe", lambda: [sc.parallelize(range(4), 2).count() for _ in "ab"])
    assert jobs == 2 and seconds > 0
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    assert timed_jobs(spark, "probe", lambda: None)[1] == 0
