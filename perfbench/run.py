#!/usr/bin/env python3
"""Benchmark of the paper's upload -> ask path plus a slice of the catalog.

    python3 perfbench/run.py --workload ask_single --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run, in one process:

1. writes its inputs into a private work directory under
   ``.perfbench_work/`` (catalog fixtures, upload files; ``inputs.py``);
2. launches the JVM (``get_spark`` + ``create_app``; a per-layer
   metric), then sets the app up again four times on it; four more
   set-ups come at the end of the run (step 7), and the median of the
   eight is ``setup_s``;
3. runs the catalog slice: one cold pass, three warm passes, then the
   index build (``catalog_slice.py``);
4. uploads each file once and computes reference answers with DuckDB;
   one file's questions also go through the app (untimed: the warm-up
   of the ask path, and a check that Spark agrees with DuckDB);
5. runs the workload's clients in a closed loop through the Flask test
   client for ``--seconds`` seconds, and at least until the tail
   percentile has 10 samples beyond it (``askpath.py``);
6. checks each catalog entry's output against its DuckDB oracle
   (untimed), and in traced runs probes the two failures known at the
   parent (a date-typed result returns HTTP 500; concurrent clients read
   each other's tables), counting them without failing the run;
7. sets the app up four more times.

Workloads differ in the clients of step 5: ``ask_single`` is one client
over five tables, one per upload format; ``ask_concurrent`` is one
client per two cores (at least 2), each owning one format of a single
table (the same formats on every seed), so answers do not depend on
which file the shared ``data_table`` alias points at. Spark runs at
``local[cores / 2]`` unless ``SPARK_GRAFT_CPUS`` is set.

With ``--trace 0`` the last line carries the end-to-end metrics; with
``--trace 1`` the program's public entry points are wrapped in spans
(``tracing.py``), every other client step is traced, and the last line
carries the per-layer metrics. The spans are written to
``.perfbench_out/``. The line before the last one is a JSON object of
details: sample counts, percentiles used, phase times, known failures.
Exits 2 without a result if the program is not importable.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import tempfile
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# set-ups on the running JVM, half at the start of the run and half at its
# end, so one burst of host load cannot move most of them; the launch that
# comes first is not one of them
RECREATIONS = 8
WARM_PASSES = 3
MIN_ASKS = 40  # so the 75th percentile has 10 samples beyond it
LINEITEM_ROWS = 20_000
RACE_CLIENTS = 4


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


# Spark's task threads and the concurrent clients each get half the cores,
# so a run never has more busy threads than cores: on a shared host,
# runs at four clients and local[4] spread 0.25-0.32 (IQR over median) on
# the ask figures, and at two and local[2], interleaved with them, 0.14-0.20
SPARK_CPUS = max(1, _cpus() // 2)
WORKLOADS = {"ask_single": 1, "ask_concurrent": max(2, _cpus() // 2)}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str) -> dict[str, str]:
    """Keep every file the run writes inside ``work``; return Spark confs."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(SPARK_CPUS))
    # no network: default_generator() must fall back to the offline stub
    for key in ("OPENAI_BASE_URL", "GEMINI_API_KEY"):
        os.environ.pop(key, None)
    os.environ["APP_SECRET_KEY"] = "perfbench"
    from sparkstats import RETENTION_CONF

    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        **RETENTION_CONF,
    }


def set_up(work: str, conf: dict[str, str], times: int, spark=None):
    """``times`` times: stop the running session, if any, then get_spark +
    create_app. Returns the last session and app, and the seconds of each
    set-up and of each get_spark."""
    from ai_duckdb_spark.session import get_spark
    from ai_duckdb_spark.webapp import create_app

    app, setup_s, start_s = None, [], []
    for _ in range(times):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(extra_conf=conf)
        t1 = time.perf_counter()
        app = create_app(upload_folder=os.path.join(work, "uploads"),
                         db_path=os.path.join(work, "chat_history.db"))
        setup_s.append(time.perf_counter() - t0)
        start_s.append(t1 - t0)
    if os.environ.get("OPENAI_BASE_URL") or os.environ.get("GEMINI_API_KEY"):
        raise RuntimeError("a .env file configured an online SQL generator")
    return spark, app, setup_s, start_s


def tear_down(spark) -> None:
    """Stop Spark and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def peak_rss_mb(spark) -> float:
    from sparkstats import jvm_pid

    kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with open(f"/proc/{jvm_pid(spark)}/status") as fh:
        kib += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return kib / 1024.0


def end_to_end(setup_s, tally, ask_wall_s) -> tuple[dict, dict]:
    from stats import median, percentile, tail_percentile

    ask_q = tail_percentile(len(tally.ask_s))
    upload_q = tail_percentile(len(tally.upload_s))
    metrics = {
        "setup_s": (median(setup_s), "s"),
        "upload_p50_s": (percentile(tally.upload_s, 50), "s"),
        "ask_p50_s": (percentile(tally.ask_s, 50), "s"),
        "ask_p75_s": (percentile(tally.ask_s, 75), "s"),
        "ask_qps": (tally.asks_ok / ask_wall_s, "1/s"),
        "ask_ok_share": (tally.asks_ok / tally.asks, "share"),
    }
    details = {
        "ask_samples": len(tally.ask_s),
        "upload_samples": len(tally.upload_s),
        # the highest percentile with at least 10 samples beyond it
        "ask_tail_percentile": ask_q,
        "ask_tail_s": percentile(tally.ask_s, ask_q) if ask_q else None,
        "upload_tail_percentile": upload_q,
        "upload_tail_s": percentile(tally.upload_s, upload_q) if upload_q else None,
    }
    return metrics, details


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import ai_duckdb_spark.webapp  # noqa: F401
        from ai_duckdb_spark.executor import DEFAULT_ROW_CAP
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2

    import askpath
    import inputs
    import tracing
    from catalog_slice import BUILDS, ENTRIES, oracle_mismatches, run_slice
    from sparkstats import SparkCounters

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        conf = _environment(work)
        phases = {}
        t = time.perf_counter()
        fixtures = inputs.write_fixtures(os.path.join(work, "fixtures"))
        up_dir = os.path.join(work, "upload_src")
        if args.workload == "ask_single":
            tables = inputs.upload_tables(args.seed, LINEITEM_ROWS)
            uploads = inputs.write_uploads(args.seed, up_dir, tables)
        else:
            tables = {"orders": inputs.upload_tables(args.seed, LINEITEM_ROWS)["orders"]}
            uploads = inputs.write_formats(args.seed, up_dir, "orders", tables["orders"])
        variants, variant_tables = inputs.race_variants(args.seed, up_dir, RACE_CLIENTS)
        dated, _ = inputs.dated_upload(args.seed, up_dir, fixtures)
        phases["inputs_s"] = time.perf_counter() - t

        t = time.perf_counter()
        spark, app, setup_s, start_s = set_up(work, conf, 1 + RECREATIONS // 2)
        jvm_start_s, setup_s, start_s = start_s[0], setup_s[1:], start_s[1:]
        phases["setup_s"] = time.perf_counter() - t
        counters = SparkCounters(spark)
        tracer = tracing.Tracer(spark, counters)
        if args.trace:
            tracing.install(tracer)

        first_job = counters.jobs_submitted()
        t = time.perf_counter()
        tracer.on = bool(args.trace)
        cat = run_slice(spark, fixtures, tracer, WARM_PASSES)
        tracer.on = False
        phases["catalog_s"] = time.perf_counter() - t

        t = time.perf_counter()
        reference, problems = askpath.reference_answers(app, tracer, uploads, tables, DEFAULT_ROW_CAP)
        phases["reference_s"] = time.perf_counter() - t

        clients = WORKLOADS[args.workload]
        plans = inputs.client_plans(args.seed, uploads, clients, steps=1000)
        t = time.perf_counter()
        tally = askpath.run_clients(app, tracer, plans, reference, args.seconds, MIN_ASKS,
                                    alternate_tracing=bool(args.trace))
        ask_wall_s = time.perf_counter() - t
        phases["ask_s"] = ask_wall_s

        last_job = counters.jobs_submitted()

        t = time.perf_counter()
        bad_entries = oracle_mismatches(cat.pop("outputs"), fixtures)
        known = {}
        if args.trace:  # the known-failure probes feed per-layer metrics only
            known["date_http500"] = askpath.probe_dated(app, tracer, dated)
            known["cross_file_answers"], known["race_asks"] = askpath.probe_race(
                app, tracer, variants, variant_tables, DEFAULT_ROW_CAP)
        phases["checks_s"] = time.perf_counter() - t

        rss_mb = peak_rss_mb(spark)
        if args.trace:  # read from the session before it is re-created
            t = time.perf_counter()
            jobs = counters.jobs(range(first_job, last_job))
            executions = counters.executions_by_span(tracing.GROUP_PREFIX)
            phases["trace_summary_s"] = time.perf_counter() - t

        t = time.perf_counter()
        spark, _, more_setup_s, more_start_s = set_up(work, conf, RECREATIONS - RECREATIONS // 2, spark)
        setup_s += more_setup_s
        start_s += more_start_s
        phases["setup_end_s"] = time.perf_counter() - t

        metrics, details = end_to_end(setup_s, tally, ask_wall_s)
        details["peak_rss_mb"] = rss_mb
        details["setup_samples_s"] = setup_s
        if args.trace:
            t = time.perf_counter()
            metrics = per_layer(tracer.spans, jobs, executions, tally, cat, start_s, jvm_start_s,
                                known, rss_mb)
            write_spans(args, tracer.spans, jobs, executions)
            phases["trace_summary_s"] += time.perf_counter() - t
        attempted = tally.uploads + tally.asks + len(ENTRIES) * (1 + WARM_PASSES) + len(BUILDS)
        failed = tally.failed_uploads + tally.failed_asks + len(bad_entries)
        correct = not problems and failed == 0
        details.update(
            workload=args.workload, seed=args.seed, clients=clients, phases=phases,
            known_failures=known, reference_problems=problems[:10],
            ask_failures=tally.mismatches[:10], catalog_oracle_mismatches=bad_entries,
            asks=tally.asks, uploads=tally.uploads,
            catalog={k: cat[k] for k in ("cold", "warm", "builds")},
        )
    finally:
        if spark is not None:
            tear_down(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(details, sort_keys=True))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def per_layer(spans, jobs, executions, tally, cat, start_s, jvm_start_s, known, rss_mb) -> dict:
    """Per-layer metrics from the traced steps (see BENCHMARK.json)."""
    import tracing
    from catalog_slice import BUILDS, ENTRIES
    from stats import median, percentile

    own_jobs = tracing.jobs_by_span(spans, jobs)
    kids = tracing.children_of(spans)
    self_s = tracing.self_times(spans)
    by_name = defaultdict(list)
    for s in spans:
        by_name[s.name].append(s)

    def med_dur(name):
        return median([s.duration for s in by_name[name]])

    def med_self(name):
        return median([self_s[s.span_id] for s in by_name[name]])

    def spark_of(span):
        return tracing.spark_totals(span, own_jobs, kids, executions)

    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs)

    m: dict[str, tuple[float, str]] = {}
    for name, unit in (("webapp.upload_self_s", "s"), ("webapp.ask_self_s", "s")):
        m[name] = (med_self(name.rsplit("_self_s", 1)[0]), unit)
    m["webapp.response_bytes"] = (mean(tally.response_bytes), "bytes")
    m["engine.analyze_file_s"] = (med_dur("engine.analyze_file"), "s")
    m["engine.ask_s"] = (med_dur("engine.ask"), "s")
    for layer, span_name in (("io.load", "io.load"), ("profile", "profile")):
        m[f"{layer}_s" if layer != "profile" else "profile.s"] = (med_dur(span_name), "s")
        m[f"{layer}_jobs" if layer != "profile" else "profile.jobs"] = (
            mean(spark_of(s)["jobs"] for s in by_name[span_name]), "count")
    m["registry.register_s"] = (med_dur("registry.register"), "s")
    m["registry.activate_s"] = (med_dur("registry.activate"), "s")
    m["nl2sql.generate_s"] = (med_dur("nl2sql.generate"), "s")
    m["executor.gate_s"] = (med_dur("executor.gate"), "s")
    m["executor.execute_s"] = (med_dur("executor.execute"), "s")
    executes = [spark_of(s) for s in by_name["executor.execute"]]
    m["executor.jobs"] = (mean(e["jobs"] for e in executes), "count")
    m["executor.sql_executions"] = (mean(e["sql_executions"] for e in executes), "count")
    m["formatter.s"] = (med_dur("formatter"), "s")

    # metadata work per question: every read/write span of the ask's request,
    # including the history read that follows the answer
    per_request = defaultdict(lambda: {"metadata.read": 0.0, "metadata.write": 0.0, "bytes": 0})
    asks = {s.request for s in by_name["webapp.ask"]}
    for s in spans:
        if s.request in asks and s.name in ("metadata.read", "metadata.write"):
            per_request[s.request][s.name] += s.duration
            per_request[s.request]["bytes"] += s.attrs.get("bytes", 0)
    m["metadata.write_s"] = (median([r["metadata.write"] for r in per_request.values()]), "s")
    m["metadata.read_s"] = (median([r["metadata.read"] for r in per_request.values()]), "s")
    m["metadata.bytes_written"] = (mean(r["bytes"] for r in per_request.values()), "bytes")
    m["session.start_s"] = (median(start_s), "s")
    m["session.jvm_start_s"] = (jvm_start_s, "s")
    # memory is reported here, not gated: the JVM's peak RSS follows its
    # heap growth and read 0.20 IQR/median across seeds
    m["peak_rss_mb"] = (rss_mb, "MB")

    # the catalog totals are reported here, not gated: one cold pass and
    # three warm passes of CPU-bound work per run followed the host's load
    # and spread up to 0.26 and 0.33 (IQR over median) across ten runs
    m["catalog.warm_s"] = (sum(median(cat["warm"][e]) for e in ENTRIES), "s")
    m["catalog.cold_s"] = (sum(cat["cold"].values()) + sum(cat["builds"].values()), "s")
    for entry in ENTRIES:
        runs = by_name[f"catalog.{entry}"]
        m[f"catalog.{entry}.s"] = (median(cat["warm"][entry]), "s")
        m[f"catalog.{entry}.jobs"] = (spark_of(runs[-1])["jobs"], "count")
    for name in BUILDS:
        span = by_name[f"index_build.{name}"][-1]
        m[f"index_build.{name}.s"] = (cat["builds"][name], "s")
        m[f"index_build.{name}.jobs"] = (spark_of(span)["jobs"], "count")

    # the spark.* family, per scope: per question, per upload, per warm
    # catalog pass (summed over entries), and over all index builds
    warm_catalog = [s for e in ENTRIES for s in by_name[f"catalog.{e}"][1:]]
    scopes = {
        "ask": ([spark_of(s) for s in by_name["webapp.ask"]], len(by_name["webapp.ask"])),
        "upload": ([spark_of(s) for s in by_name["webapp.upload"]], len(by_name["webapp.upload"])),
        "catalog": ([spark_of(s) for s in warm_catalog], WARM_PASSES),
        "index_build": ([spark_of(by_name[f"index_build.{n}"][-1]) for n in BUILDS], 1),
    }
    for scope, (rows, per) in scopes.items():
        for key, unit in (("jobs", "count"), ("tasks", "count"), ("stage_run_s", "s"),
                          ("stage_cpu_s", "s"), ("driver_gap_s", "s"),
                          ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
                          ("spill_bytes", "bytes")):
            m[f"spark.{scope}.{key}"] = (sum(r[key] for r in rows) / per, unit)

    # engine.ask_s accounted for by the self times of the layers under it
    # (the executor's own time is Spark job time plus driver gap); below 1
    # when spans overlap or misnest
    shares = [sum(self_s[sid] for sid in tracing.subtree_ids(s.span_id, kids)) / s.duration
              for s in by_name["engine.ask"]]
    m["trace.ask_accounted_share"] = (median(shares), "share")
    traced = [x for x, on in zip(tally.ask_s, tally.ask_traced) if on]
    untraced = [x for x, on in zip(tally.ask_s, tally.ask_traced) if not on]
    m["trace.overhead_ask_p50_s"] = (percentile(traced, 50) - percentile(untraced, 50), "s")

    # count metrics must repeat exactly: one question, one job count
    counts = defaultdict(set)
    for s in by_name["webapp.ask"]:
        counts[s.attrs.get("label")].add(spark_of(s)["jobs"])
    m["selfcheck.count_mismatches"] = (sum(len(v) > 1 for v in counts.values()), "count")
    m["known.date_http500"] = (known["date_http500"], "count")
    m["known.cross_file_answers"] = (known["cross_file_answers"], "count")
    return m


def write_spans(args, spans, jobs, executions) -> None:
    """Spans stay in memory during the run and are written once, here."""
    import tracing

    own = tracing.jobs_by_span(spans, jobs)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"), "w") as fh:
        json.dump([
            {"id": s.span_id, "name": s.name, "parent": s.parent, "request": s.request,
             "start": s.start, "end": s.end, "attrs": s.attrs,
             "jobs": sorted(j.job_id for j in own.get(s.span_id, [])),
             "sql_executions": executions.get(s.span_id, 0)}
            for s in spans
        ], fh)


if __name__ == "__main__":
    sys.exit(main())
