#!/usr/bin/env python
"""Benchmark the query catalog at $SPARK_GRAFT_SF_DIR (default sf0.1).

Protocol (BASELINE.md; revised because the single-pass numbers did
not reproduce between runs): one cold pass (plan compile +
JIT), then ``BENCH_PASSES`` (default 3) timed warm passes per side,
INTERLEAVED Spark-pass / DuckDB-pass so machine-state drift (page cache,
thermal, background load) hits both engines symmetrically. Each query
reports its per-side MEDIAN across the warm passes; totals are sums of
medians. Line 1 carries ``median_of`` so the protocol is auditable.

Headline set = every oracle-checked BATCH catalog query. The
Structured-Streaming entries measure micro-batch framework overhead
(trigger scheduling, state-store checkpoints), not engine throughput —
each has a batch twin in the headline — so they are timed separately
and reported as ``streaming_overhead_total`` instead of being buried
in the headline ratio.

Drift resistance: line 2 carries a per-query Spark
``jobs`` map (statusTracker delta on the last warm pass) and a
``calibration`` block — one untouched pure-JVM scalar probe timed at
window start and window end — so host-throughput drift is separable
from plan regressions inside the artifact itself: jobs unchanged +
probe drifted ⇒ host; jobs moved ⇒ plan.

Output: FOUR JSON lines — a compact self-contained summary (warm/duck
totals, ratio, worst-5) printed FIRST and repeated LAST, line 2
carrying BOTH full per-query maps, Spark and DuckDB, so per-query
ratios stay auditable after the fact, and line 3 the STEADY-STATE map
(best-of-3 back-to-back) for the BENCH_STEADY_N (default 10) heaviest
warm entries — the in-artifact separator for the JVM re-warm
phenomenon: an entry whose warm median drifted but whose steady best
and job count held is re-warm, not a plan change.
The summary is duplicated because the driver's artifact keeps only a
2000-char TAIL of stdout: the first four BENCH_rNN.json files all recorded
"parsed": null with the tail ending inside the per-query map.

Env:
    SPARK_GRAFT_SF_DIR   fixture dir (default /root/testdata/sf0.1)
    SPARK_GRAFT_CPUS     local[] parallelism (default: all cores)
    BENCH_PASSES         timed warm passes per side (default 3, min 1)
    BENCH_DUCKDB=0       skip timing the DuckDB oracle side (on by default)
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ai_duckdb_spark.queries import catalog  # noqa: E402
from ai_duckdb_spark.session import get_spark, timed_jobs  # noqa: E402
from ai_duckdb_spark.tables import TABLE_NAMES, table_path  # noqa: E402


def sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


def _headline_specs():
    return [
        s
        for s in catalog.REGISTRY.values()
        if s.oracle is not None and not s.name.startswith("streaming_")
    ]


def _streaming_specs():
    return [s for s in catalog.REGISTRY.values() if s.name.startswith("streaming_")]


def _rows_only_specs():
    return [
        s
        for s in catalog.REGISTRY.values()
        if s.oracle is None and not s.name.startswith("streaming_")
    ]


def _spark_pass(
    spark, specs, sf_dir: str, jobs_out: dict[str, int] | None = None
) -> dict[str, float]:
    """One timed pass over ``specs``, each built and fetched with Arrow toPandas.

    Materialization is Arrow ``toPandas`` — symmetric with the DuckDB
    side's ``fetchdf`` so both engines pay a pandas result, and the
    JVM→Python edge uses columnar batches instead of per-Row pickling.

    When ``jobs_out`` is given, the number of Spark jobs each query
    schedules is recorded into it (counted by job group,
    ``session.timed_jobs``, same counter as scripts/time_entries.py).
    Jobs are the drift-resistant signal: wall-clock moves with host
    load, but a plan regression moves the JOB COUNT — a query whose
    jobs/run is unchanged across runs while its seconds doubled is host
    drift, not a plan change.
    """
    timings: dict[str, float] = {}
    for spec in specs:
        seconds, jobs = timed_jobs(spark, spec.name, lambda: spec.builder(spark, sf_dir).toPandas())
        timings[spec.name] = round(seconds, 4)
        if jobs_out is not None:
            jobs_out[spec.name] = jobs
    return timings


# Calibration probe: one pure-JVM codegen scalar query whose plan is
# left untouched, timed at the very START and very END of the bench
# window (median of 3 back-to-back runs each). The probe's plan never
# changes between runs, so its two numbers measure HOST throughput in
# this window — if last/first drifts, or either drifts vs a committed
# artifact's line (~0.12 s on the build host), per-query slowdowns of
# the same magnitude are host drift and plan regressions are what
# remains after dividing it out. This is the in-artifact version of a
# same-host counter-run.
_CALIBRATION_QUERY = "string_funcs_part"


def _calibrate(spark, sf_dir: str, reps: int = 3) -> float:
    spec = catalog.REGISTRY[_CALIBRATION_QUERY]
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        spec.builder(spark, sf_dir).toPandas()
        times.append(time.perf_counter() - t0)
    return round(statistics.median(times), 4)


def _touch_python_pool(spark) -> float:
    """Refresh the Python worker pool OUTSIDE any timed region; returns
    the touch's own wall-clock so the exclusion is QUANTIFIED in the
    artifact (``pool_touch_total_s``), not just asserted in comments.

    Spark discards pooled Python workers idle >60 s (hardcoded
    IDLE_WORKER_TIMEOUT_NS), and an interleaved DuckDB pass idles them
    for 1-2 minutes — so without this touch the pool respawn (~1 s with
    the warm daemon; 8-58 s without, SCALE.md "the in-bench anomaly")
    lands on whichever pandas entry happens to run first in the next
    pass and masquerades as that query's cost. One 32-partition no-op pandas
    task re-forks the pool so per-entry numbers measure the query.
    The DuckDB side has no analogue of this cost; reporting it as its
    own line item keeps the headline ratio honest about the exclusion."""
    t0 = time.perf_counter()
    spark.range(0, 32, 1, 32).mapInPandas(lambda it: it, schema="id long").count()
    return time.perf_counter() - t0


def _duck_pass(con, specs) -> dict[str, float]:
    timings: dict[str, float] = {}
    for spec in specs:
        t0 = time.perf_counter()
        con.sql(spec.oracle).fetchdf()
        timings[spec.name] = round(time.perf_counter() - t0, 4)
    return timings


def _median_by_query(passes: list[dict[str, float]]) -> dict[str, float]:
    return {
        name: round(statistics.median(p[name] for p in passes), 4)
        for name in passes[0]
    }


def bench_streaming(
    spark, sf_dir: str
) -> tuple[dict[str, float], float, float]:
    """Time the Structured-Streaming entries: TWO passes, both timed.

    The first pass pays ~20+ s of one-time machinery warmup that no
    steady pass repeats (micro-batch engine JIT, state-store init,
    applyInPandasWithState Python worker spin-up — measured pass totals
    41.6 / 18.8 / 17.7 s for the same 13 entries in one session), so a
    single-pass number conflates session warmup with per-entry trigger/
    checkpoint overhead — a BENCH_rNN.json move of 17.1→30.4 s between
    two runs was exactly this conflation. Pass 1 is reported as
    ``streaming_cold_total`` (nothing hidden), pass 2 as
    ``streaming_overhead_total`` — the steady-state framework overhead
    the line was always meant to measure, symmetric with the headline's
    cold-pass/warm-pass split."""
    specs = _streaming_specs()
    cold_total = sum(_spark_pass(spark, specs, sf_dir).values())
    timings = _spark_pass(spark, specs, sf_dir)
    return timings, round(sum(timings.values()), 4), round(cold_total, 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_from_dir(sf_dir)
    passes = max(1, int(os.environ.get("BENCH_PASSES", "3")))
    with_duck = os.environ.get("BENCH_DUCKDB", "1") != "0"

    spark = get_spark(app_name="ai_duckdb_spark_bench")
    specs = _headline_specs()

    con = None
    if with_duck:
        import duckdb

        con = duckdb.connect()
        for name in TABLE_NAMES:
            con.execute(
                f"CREATE VIEW {name} AS "
                f"SELECT * FROM read_parquet('{table_path(sf_dir, name)}')"
            )
        for name in TABLE_NAMES:  # one warm pass over the files, not per query
            con.execute(f"SELECT count(*) FROM {name}").fetchall()

    # one-shot index builds, timed individually: the build-once/
    # query-many entries (MinHash core/labels, Jaccard-0.95 clustering,
    # IVF quantizer + persisted index, NN-Descent graph, PQ codebooks,
    # BPE merges) memoize their index per session, so their
    # warm numbers are cache hits BY DESIGN; the one-shot build cost is
    # attributed HERE instead of smearing into cold_total. A small
    # first-touch warmup (corpus counts) runs first so the first builder
    # doesn't also pay session JIT + page-cache cold.
    from ai_duckdb_spark.queries.caches import clear_index_caches, index_builders
    from ai_duckdb_spark.tables import load as load_table

    for t in ("documents", "embeddings"):
        load_table(spark, sf_dir, t).count()
    calib_first = _calibrate(spark, sf_dir)
    clear_index_caches()
    # per-build job counts + a probe straddling the section: an
    # index-build drift of 53.9→65.6 s between two runs was uniformly
    # spread across builds — host/JIT-state shaped — but the line had
    # no in-artifact probe to prove that attribution. Now it does:
    # jobs unchanged + probes drifted ⇒ host; jobs moved ⇒ plan.
    ib_timings: dict[str, float] = {}
    ib_jobs: dict[str, int] = {}
    for name, build in index_builders().items():
        seconds, ib_jobs[name] = timed_jobs(spark, f"index_build.{name}", lambda: build(spark, sf_dir))
        ib_timings[name] = round(seconds, 4)
    ib_total = round(sum(ib_timings.values()), 4)
    calib_after_builds = _calibrate(spark, sf_dir)

    # cold pass: plan compilation + codegen/JIT, reported separately
    # (index caches are left WARM by the build step above, so this is
    # pure first-plan cost — the attribution split the artifact needs)
    cold = _spark_pass(spark, specs, sf_dir)
    cold_total = round(sum(cold.values()), 4)

    # interleaved warm passes: S, D, S, D, ... so machine-state drift is
    # shared; per-query medians absorb one-off stalls on either side
    s_passes: list[dict[str, float]] = []
    d_passes: list[dict[str, float]] = []
    jobs_map: dict[str, int] = {}
    pool_touch_total = 0.0
    for i in range(passes):
        # job counts captured on the LAST warm pass only — AQE may
        # schedule an extra stage-materialization job on the first warm
        # run; by the last pass the counts are the steady-state plan
        pool_touch_total += _touch_python_pool(spark)
        s_passes.append(
            _spark_pass(spark, specs, sf_dir, jobs_out=jobs_map if i == passes - 1 else None)
        )
        if con is not None:
            d_passes.append(_duck_pass(con, specs))

    timings = _median_by_query(s_passes)
    total = round(sum(timings.values()), 4)
    s_timings, s_total, s_cold_total = bench_streaming(spark, sf_dir)

    # rows-only batch entries (the approximate/ANN tier — no SQL twin to
    # race, so they are timed but kept out of the headline ratio): one
    # untimed warm-up pass, then one timed pass
    ro_specs = _rows_only_specs()
    _spark_pass(spark, ro_specs, sf_dir)
    ro_timings = _spark_pass(spark, ro_specs, sf_dir)
    ro_total = round(sum(ro_timings.values()), 4)

    # steady-state line for the heaviest entries: the interleaved
    # protocol makes every heavy entry's pass a JVM "run 0" (the
    # re-warm phenomenon, event-log-confirmed — each interleaved pass
    # re-pollutes the JIT profile), so in-rotation numbers for the
    # dedup tier conflate plan cost with re-warm cost and every run
    # re-litigates 2-4x "regressions" that aren't.
    # Best-of-3 BACK-TO-BACK runs per entry measure the steady state
    # the plan actually has, in the same artifact, so in-rotation vs
    # steady drift is separable without counter-runs.
    steady_n = int(os.environ.get("BENCH_STEADY_N", "10"))
    heavy = sorted(timings, key=lambda k: -timings[k])[:steady_n]
    steady: dict[str, float] = {}
    for name in heavy:
        spec = catalog.REGISTRY[name]
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            spec.builder(spark, sf_dir).toPandas()
            runs.append(time.perf_counter() - t0)
        steady[name] = round(min(runs), 4)
    steady_total = round(sum(steady.values()), 4)

    calib_last = _calibrate(spark, sf_dir)

    summary = {
        "metric": "catalog_warm_total",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "median_of": passes,
        "warm_total": total,
        "cold_total": cold_total,
        "streaming_overhead_total": s_total,
        "streaming_cold_total": s_cold_total,
        "n_streaming": len(s_timings),
        "rows_only_total": ro_total,
        "n_rows_only": len(ro_timings),
        "index_build_total": ib_total,
        "n_index_builds": len(ib_timings),
        # per-build seconds + job counts IN the summary line: a captured
        # tail once truncated before line 2's breakdown, leaving a
        # 46.8->86.8 s index_build_total drift unattributable
        # in-artifact. The summary is the line the
        # driver's tail capture always keeps, so attribution (jobs flat
        # + probes drifted => host; jobs moved => plan) lives here now.
        "index_build": ib_timings,
        "index_build_jobs": ib_jobs,
        "calibration_query": _CALIBRATION_QUERY,
        "calibration_first_s": calib_first,
        "calibration_after_builds_s": calib_after_builds,
        "calibration_last_s": calib_last,
        # steady-state (best-of-3 back-to-back) total for the N
        # heaviest warm entries — compare per-query in line 3
        "steady_heavy_total": steady_total,
        "n_steady": len(steady),
        # cost of the untimed pool refreshes excluded from warm_total
        # (one per warm pass) — quantifies the exclusion the DuckDB
        # side has no analogue of, instead of hiding it in comments
        "pool_touch_total_s": round(pool_touch_total, 4),
        "queries": dict(sorted(timings.items(), key=lambda kv: -kv[1])[:5]),
    }
    line2 = {
        "metric": "catalog_warm_per_query",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "median_of": passes,
        "queries": {**timings, **s_timings, **ro_timings},
        "index_build": ib_timings,
        "index_build_jobs": ib_jobs,
        "jobs": jobs_map,
        "calibration": {
            "query": _CALIBRATION_QUERY,
            "first_s": calib_first,
            "after_builds_s": calib_after_builds,
            "last_s": calib_last,
        },
        "pool_touch_total_s": round(pool_touch_total, 4),
        # the published BENCH_rNN.json and a local run's artifact are
        # produced by this SAME script, so per-query numbers have
        # IDENTICAL semantics in both — median across
        # `median_of` interleaved warm passes, pool refreshed (untimed,
        # but totaled in pool_touch_total_s) before each Spark pass,
        # index caches warm, cold pass excluded. Any driver-vs-local
        # per-query spread is therefore host state (JIT profile age,
        # page cache, concurrent load), diagnosable via `calibration`
        # and the `jobs` map — see BASELINE.md "Per-query semantics".
        "per_query_semantics": f"median_of_{passes}_interleaved_warm_passes",
    }
    if con is not None:
        d_timings = _median_by_query(d_passes)
        d_total = round(sum(d_timings.values()), 4)
        summary["duck_total"] = d_total
        summary["ratio_vs_duckdb"] = round(total / max(d_total, 1e-9), 4)
        worst = sorted(
            ((timings[k] / max(d_timings[k], 1e-4), k) for k in timings), reverse=True
        )[:5]
        summary["worst_ratio_queries"] = {k: round(r, 2) for r, k in worst}
        line2["duckdb_queries"] = d_timings

    line3 = {
        "metric": "catalog_steady_per_query",
        "value": steady_total,
        "unit": "sec",
        "sf": sf,
        "best_of": 3,
        "protocol": "back_to_back_after_warm_passes",
        "queries": steady,
        # in-rotation warm medians for the same entries, for the
        # re-warm delta at a glance: warm >> steady with equal jobs is
        # the JVM re-warm signature, not a plan regression
        "warm_medians": {k: timings[k] for k in steady},
    }

    # line 1: compact summary; line 2: both full maps; line 3: the
    # steady-state map for the heaviest entries; line 4: the SAME
    # compact summary again. The artifact keeps only the TAIL of stdout
    # (the first four BENCH_rNN.json files all recorded "parsed": null with
    # a 2000-char tail that ended inside the giant per-query map), so the
    # summary must be the LAST line for a tail capture to contain the
    # headline numbers (warm_total, duck_total, ratio, median_of). It
    # stays first too so a head capture keeps working.
    print(json.dumps(summary))
    print(json.dumps(line2))
    print(json.dumps(line3))
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
