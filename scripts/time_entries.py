#!/usr/bin/env python
"""Warm-time individual catalog entries and count Spark jobs per run.

Usage: python scripts/time_entries.py entry1 entry2 ...
           [--sf DIR] [--passes N] [--fresh]

For each entry: one cold pass, then N warm passes; reports median warm
seconds and the number of Spark jobs the warm action scheduled (each
job pays a fixed ~0.15-0.3 s driver floor on local mode — SCALE.md
'Known bounds').

--fresh clears EVERY session memo (queries/caches.py session_memo:
the index builds, the sink/media/maintenance fixture dirs, the
streaming replays and footer schemas) before the cold pass AND before
every timed pass, so entries backed by a build-once/query-many index
or a write-once fixture report the full one-shot build cost instead
of a ~0.2 s cache hit — the honest fresh-build number a re-run must
match.
"""
from __future__ import annotations

import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ai_duckdb_spark.queries import catalog  # noqa: E402
from ai_duckdb_spark.session import get_spark, timed_jobs  # noqa: E402


def main() -> None:
    args = [a for a in sys.argv[1:]]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    passes = 3
    fresh = False
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--sf":
            sf_dir = args[i + 1]
            i += 2
        elif args[i] == "--passes":
            passes = int(args[i + 1])
            i += 2
        elif args[i] == "--fresh":
            fresh = True
            i += 1
        else:
            names.append(args[i])
            i += 1

    from ai_duckdb_spark.queries.caches import clear_index_caches

    spark = get_spark()
    for name in names:
        spec = catalog.REGISTRY[name]
        if fresh:
            clear_index_caches()
        spec.builder(spark, sf_dir).toPandas()  # cold; toPandas = bench protocol
        times = []
        jobs = None
        for _ in range(passes):
            if fresh:
                clear_index_caches()
            seconds, jobs = timed_jobs(spark, name, lambda: spec.builder(spark, sf_dir).toPandas())
            times.append(seconds)
        mode = "fresh" if fresh else "warm"
        print(
            f"{name}: {mode} median {statistics.median(times):.3f}s "
            f"(min {min(times):.3f}) jobs/run={jobs}"
        )


if __name__ == "__main__":
    main()
