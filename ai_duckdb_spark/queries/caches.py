"""Central registry of the session-scoped index caches.

Several catalog entries follow the build-once/query-many contract a
real pipeline has (nightly index build, many searches): the built
index — a checkpointed DataFrame, a driver-sized model, or an on-disk
partitioned directory — is memoized in a module-level dict keyed by
corpus (and Spark application id where a checkpoint handle dies with
the session). That is the right production shape, but it makes warm
timings cache hits; this module gives the bench and
scripts/time_entries.py one honest lever:

* ``clear_index_caches()`` — empty every cache so the next run pays
  the full one-shot build (the ``--fresh`` measurement protocol).
* ``index_builders()`` — one thunk per index that populates the cache
  AND forces materialization, so the one-shot build cost can be timed
  as its own ``index_build`` line in the bench artifact instead of
  hiding inside whichever consumer entry happens to run first.
"""
from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from typing import Callable

from pyspark.sql import SparkSession

# ---------------------------------------------------------------------------
# Temp-dir lifecycle for write-once/read-many fixtures (sinks, media dirs,
# persisted indexes). Every mkdtemp'd fixture dir goes through here so the
# process removes them at exit instead of leaking one table/media copy per
# sf_dir per process; ``cached_dir`` also invalidates a cache entry whose
# directory was removed while the process lives (stale-path guard).
# ---------------------------------------------------------------------------

_TEMP_DIRS: set[str] = set()


def _cleanup_tempdirs() -> None:
    for path in _TEMP_DIRS:
        shutil.rmtree(path, ignore_errors=True)
    _TEMP_DIRS.clear()


atexit.register(_cleanup_tempdirs)


def make_tempdir(prefix: str) -> str:
    """mkdtemp that is removed at interpreter exit."""
    path = tempfile.mkdtemp(prefix=prefix)
    _TEMP_DIRS.add(path)
    return path


def cached_dir(cache: dict[str, str], key: str) -> str | None:
    """Look up a memoized fixture dir; drop the entry if the directory no
    longer exists so the caller rebuilds instead of reading a dead path."""
    path = cache.get(key)
    if path is not None and not os.path.isdir(path):
        cache.pop(key, None)
        return None
    return path


def index_caches() -> dict[str, dict]:
    """Name → live cache dict for every session-scoped index."""
    from . import dedup_q, similarity_q, tokenizer_q

    return {
        "minhash_core": dedup_q._MINHASH_CORE_CACHE,
        "minhash_component_labels": dedup_q._MINHASH_LABELS_CACHE,
        "portable_minhash_pairs": dedup_q._MINHASH_PORTABLE_CACHE,
        "jaccard095_pairs": dedup_q._PAIRS_CACHE,
        "jaccard095_labels": dedup_q._LABELS_CACHE,
        "ivf_quantizer": similarity_q._IVF_MODELS,
        "ivf_persisted_index": similarity_q._IVF_INDEX_DIRS,
        "nndescent_graph": similarity_q._NNDESCENT_GRAPHS,
        "pq_codebooks": similarity_q._PQ_BOOKS,
        "bpe_merges": tokenizer_q._MERGES_CACHE,
    }


def clear_index_caches() -> list[str]:
    """Empty every index cache; returns the names that held entries."""
    cleared = []
    for name, cache in index_caches().items():
        if cache:
            cleared.append(name)
        cache.clear()
    return cleared


def index_builders() -> dict[str, Callable[[SparkSession, str], None]]:
    """Name → thunk that builds the index for (spark, sf_dir) and forces
    materialization (count() on checkpointed frames; the model/dir
    builders materialize inside the shared function already)."""
    from ..tables import load
    from . import dedup_q, similarity_q, tokenizer_q

    def minhash_core(spark: SparkSession, sf_dir: str) -> None:
        dedup_q._minhash_core_cached(spark, sf_dir)[1].count()

    def minhash_labels(spark: SparkSession, sf_dir: str) -> None:
        dedup_q._minhash_labels_cached(spark, sf_dir).count()

    def portable_minhash_pairs(spark: SparkSession, sf_dir: str) -> None:
        dedup_q._minhash_portable_pairs_cached(spark, sf_dir).count()

    def jaccard095_labels(spark: SparkSession, sf_dir: str) -> None:
        dedup_q._labels_095(spark, sf_dir).count()  # builds _PAIRS_CACHE too

    def ivf_quantizer(spark: SparkSession, sf_dir: str) -> None:
        emb = load(spark, sf_dir, "embeddings")
        similarity_q.shared_kmeans_model(emb, sf_dir)

    def ivf_persisted_index(spark: SparkSession, sf_dir: str) -> None:
        similarity_q.shared_ivf_index_dir(spark, sf_dir)

    def nndescent_graph(spark: SparkSession, sf_dir: str) -> None:
        similarity_q.shared_nndescent_graph(spark, sf_dir).count()

    def pq_codebooks(spark: SparkSession, sf_dir: str) -> None:
        emb = load(spark, sf_dir, "embeddings")
        similarity_q.shared_pq_books(emb, sf_dir)

    def bpe_merges(spark: SparkSession, sf_dir: str) -> None:
        tokenizer_q.shared_merge_rules(spark, sf_dir)

    return {
        "minhash_core": minhash_core,
        "minhash_component_labels": minhash_labels,
        # The portable-MinHash verified-pair
        # relation is session-cached like the other indexes; registering
        # it here gives the bench an attributed `index_build` line (the
        # one-shot build no longer smears into whichever of the two
        # consumer entries runs first) and puts it under the --fresh
        # lever (clear_index_caches()).
        "portable_minhash_pairs": portable_minhash_pairs,
        "jaccard095_labels": jaccard095_labels,
        "ivf_quantizer": ivf_quantizer,
        "ivf_persisted_index": ivf_persisted_index,
        "nndescent_graph": nndescent_graph,
        "pq_codebooks": pq_codebooks,
        "bpe_merges": bpe_merges,
    }
