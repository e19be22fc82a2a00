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

from ai_duckdb_spark.queries import caches, extras_q, similarity_q, tpch_deep2
from ai_duckdb_spark.streaming import windows

# Spark jobs of each index build at sf0.001 under the bench protocol
# (memos cleared once, then every build in order). These are the counts
# from before the memos moved onto session_memo, except
# ivf_persisted_index: it reuses the memoized quantizer instead of
# training the same k-means again (19 jobs then, 14 of them training).
# The two connected-components builds vary by one job between runs of
# the same code, before this change as after it.
BUILD_JOBS = {
    "minhash_core": {10},
    "minhash_component_labels": {15, 16},
    "portable_minhash_pairs": {8},
    "jaccard095_labels": {22, 23},
    "ivf_quantizer": {15},
    "ivf_persisted_index": {5},
    "nndescent_graph": {43},
    "pq_codebooks": {17},
    "bpe_merges": {27},
}


def test_index_builders_are_the_named_memos_in_order():
    assert list(caches.index_builders()) == list(BUILD_JOBS)


def test_index_build_job_counts(spark, sf_dir):
    # jobs are attributed by job group, not by a time window: AQE may
    # submit a build's last job from a helper thread after its action
    # has returned, which a window would charge to the next build
    sc = spark.sparkContext
    caches.clear_index_caches()
    try:
        for name, build in caches.index_builders().items():
            sc.setJobGroup(f"index_build.{name}", name)
            build(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    got = {name: len(tracker.getJobIdsForGroup(f"index_build.{name}")) for name in BUILD_JOBS}
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
