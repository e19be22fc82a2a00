"""Unit checks of the benchmark's own code; no Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re

import pytest

import askpath
import inputs
import run
import stats
import tracing
from catalog_slice import BUILDS, ENTRIES
from sparkstats import JobStats

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "BENCHMARK.json")


# -- inputs ------------------------------------------------------------------

def _write_all(seed, out):
    tables = inputs.upload_tables(seed, 2_000)
    files = inputs.write_uploads(seed, os.path.join(out, "up"), tables)
    files.update(inputs.write_formats(seed, os.path.join(out, "fmt"), "orders", tables["orders"]))
    inputs.write_fixtures(os.path.join(out, "fixtures"))
    return files


def test_same_seed_same_inputs(tmp_path):
    a = _write_all(7, str(tmp_path / "a"))
    b = _write_all(7, str(tmp_path / "b"))
    assert [spec for _, spec in a.values()] == [spec for _, spec in b.values()]
    for key in a:
        assert filecmp.cmp(a[key][0], b[key][0], shallow=False), key
    for name in os.listdir(tmp_path / "a" / "fixtures"):
        assert filecmp.cmp(tmp_path / "a" / "fixtures" / name, tmp_path / "b" / "fixtures" / name,
                           shallow=False), name
    for clients in (1, 4):
        assert _steps(inputs.client_plans(7, a, clients, 50)) == _steps(inputs.client_plans(7, b, clients, 50))


def _steps(plans):
    return [[(spec, classes) for _, spec, classes in plan] for plan in plans]


def test_other_seed_other_mix(tmp_path):
    a = _write_all(7, str(tmp_path / "a"))
    c = _write_all(8, str(tmp_path / "c"))
    assert [s.threshold for _, s in a.values()] != [s.threshold for _, s in c.values()]
    assert _steps(inputs.client_plans(7, a, 1, 30)) != _steps(inputs.client_plans(8, a, 1, 30))


def test_plans_cover_every_class_and_file(tmp_path):
    files = _write_all(3, str(tmp_path))
    single = {k: v for k, v in files.items() if not k.startswith("orders_")}
    (plan,) = inputs.client_plans(3, single, 1, 2 * len(single))
    assert sorted(spec.key for _, spec, _ in plan) == sorted(list(single) * 2)
    asked = {}
    for _, spec, classes in plan:
        assert len(classes) == inputs.ASKS_PER_UPLOAD
        asked.setdefault(spec.key, []).extend(classes)
    assert all(sorted(c) == sorted(inputs.CLASSES) for c in asked.values())
    formats = {k: v for k, v in files.items() if k.startswith("orders_")}
    plans = inputs.client_plans(3, formats, 4, 5)
    owned = [{spec.key for _, spec, _ in p} for p in plans]
    assert all(len(o) == 1 for o in owned) and len(set.union(*owned)) == 4
    # the same formats on every seed; only which client owns which is seeded
    other = [{spec.key for _, spec, _ in p} for p in inputs.client_plans(4, formats, 4, 5)]
    assert set.union(*other) == set.union(*owned) and "orders_json_columns" not in set.union(*owned)


def test_whole_rounds_ask_the_same_mix_on_every_seed(tmp_path):
    files = _write_all(3, str(tmp_path))
    single = {k: v for k, v in files.items() if not k.startswith("orders_")}
    formats = {k: v for k, v in files.items() if k.startswith("orders_")}

    def mix(seed, uploads, clients, rounds):
        plans = inputs.client_plans(seed, uploads, clients, 100)
        asked = []
        for plan in plans:
            steps = rounds * inputs.round_steps(len({spec.key for _, spec, _ in plan}))
            asked += [(spec.key, c) for _, spec, classes in plan[:steps] for c in classes]
        return sorted(asked)

    for uploads, clients in ((single, 1), (formats, 4)):
        for rounds in (1, 2, 3):
            assert mix(3, uploads, clients, rounds) == mix(4, uploads, clients, rounds)
    assert inputs.round_steps(5) == 5 and inputs.round_steps(1) == 2


def test_questions_land_in_their_class(tmp_path):
    """The offline generator must classify each question as intended."""
    from ai_duckdb_spark.nl2sql import StubSqlGenerator

    shapes = {
        "top": r"ORDER BY \w+ DESC LIMIT \d+$",
        "sum": r"SUM\(",
        "avg": r"AVG\(",
        "count": r"COUNT\(\*\)",
        "threshold": r"WHERE \w+ > [0-9.]+$",
        "select_all": r"^SELECT \* FROM data_table$",
    }
    for path, spec in _write_all(5, str(tmp_path)).values():
        table = inputs.upload_tables(5, 2_000)[spec.content]
        info = {"列名": table.column_names,
                "数据类型": {f.name: ("string" if str(f.type) == "string" else "double")
                         for f in table.schema}}
        for cls, question in inputs.questions_for(spec).items():
            sql = StubSqlGenerator().generate(os.path.basename(path), info, question)
            assert re.search(shapes[cls], sql), (spec.key, cls, sql)


def test_uploads_stay_under_the_cap(tmp_path):
    for path, _ in _write_all(1, str(tmp_path)).values():
        assert os.path.getsize(path) < inputs.UPLOAD_CAP_BYTES


# -- the percentile rule -------------------------------------------------------

@pytest.mark.parametrize("n,expected", [(100, 90), (99, 90), (95, 90), (90, 89), (20, 52), (11, 9),
                                        (10, 0)])
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    q = stats.tail_percentile(n)
    assert q == expected
    if q:
        rank = (n - 1) * q // 100
        assert n - rank - 1 >= stats.MIN_BEYOND
        higher = (n - 1) * (q + 1) // 100
        assert q == 90 or n - higher - 1 < stats.MIN_BEYOND


def test_percentile_interpolates():
    xs = [float(x) for x in range(1, 101)]
    assert stats.percentile(xs, 50) == pytest.approx(50.5)
    assert stats.percentile(xs, 90) == pytest.approx(90.1)
    assert stats.percentile([3.0], 90) == 3.0


# -- span arithmetic -----------------------------------------------------------

def _tree():
    """root [0,10] with children a [1,4] and b [3,6] (overlapping), a has
    child c [2,3]; a second root d [20,21]."""
    S = tracing.Span
    return [S(1, "root", None, "r1", 0.0, 10.0), S(2, "a", 1, "r1", 1.0, 4.0),
            S(3, "b", 1, "r1", 3.0, 6.0), S(4, "c", 2, "r1", 2.0, 3.0),
            S(5, "d", None, "r2", 20.0, 21.0)]


def test_self_time_subtracts_covered_child_time():
    self_s = tracing.self_times(_tree())
    assert self_s == pytest.approx({1: 5.0, 2: 2.0, 3: 3.0, 4: 1.0, 5: 1.0})


def test_union_and_clip():
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.union_length([]) == 0
    assert stats.clipped([(0, 5), (8, 9)], 2, 8.5) == [(2, 5), (8, 8.5)]


def test_spark_totals_attribute_jobs_to_the_enclosing_span():
    spans = _tree()
    g = tracing.GROUP_PREFIX
    jobs = {
        0: JobStats(0, f"{g}4", 2.0, 2.5, tasks=4, stage_run_s=1.0),  # in c
        1: JobStats(1, f"{g}3", 3.5, 5.5, tasks=2),  # in b
        2: JobStats(2, None, 30.0, 31.0),  # no span
    }
    executions = {4: 1, 3: 2, 5: 1}  # b ran one execution that submitted no job
    own = tracing.jobs_by_span(spans, jobs)
    kids = tracing.children_of(spans)
    root = tracing.spark_totals(spans[0], own, kids, executions)
    assert root["jobs"] == 2 and root["tasks"] == 6 and root["sql_executions"] == 3
    assert root["job_s"] == pytest.approx(2.5)
    assert root["driver_gap_s"] == pytest.approx(7.5)
    a = tracing.spark_totals(spans[1], own, kids, executions)
    assert a["jobs"] == 1 and a["sql_executions"] == 1
    assert tracing.spark_totals(spans[4], own, kids, executions)["jobs"] == 0


def test_job_range_spans_take_every_job_in_their_range():
    span = tracing.Span(1, "catalog.x", None, None, 0.0, 5.0, job_range=(0, 2))
    jobs = {i: JobStats(i, "streaming-group", 1.0 + i, 2.0 + i) for i in range(3)}
    own = tracing.jobs_by_span([span], jobs)
    assert [j.job_id for j in own[1]] == [0, 1]


def test_tracer_is_a_pass_through_when_off():
    tracer = tracing.Tracer()
    with tracer.span("x") as attrs:
        assert attrs is None
    assert tracer.spans == []


def test_tracer_nests_spans_per_thread():
    tracer = tracing.Tracer()
    tracer.on = True
    with tracer.request("q1"):
        with tracer.span("outer"):
            with tracer.span("inner") as attrs:
                attrs["k"] = 1
    inner, outer = tracer.spans
    assert inner.parent == outer.span_id and outer.parent is None
    assert inner.request == outer.request == "q1" and inner.attrs == {"k": 1}


# -- answers -------------------------------------------------------------------

def test_digest_ignores_column_order_and_grouped_row_order():
    rows = [{"b": 2, "a": 1.0}, {"b": 1, "a": 3.0}]
    flipped = [{"a": 3.0, "b": 1}, {"a": 1.0, "b": 2}]
    assert askpath.digest(["b", "a"], rows, 2, "sum") == askpath.digest(["a", "b"], flipped, 2, "sum")
    assert askpath.digest(["b", "a"], rows, 2, "top") != askpath.digest(["a", "b"], flipped, 2, "top")

def test_answers_agree_up_to_float_rounding():
    def avg(x, n=1):
        return askpath.digest(["x"], [{"x": x}] * n, n, "avg")

    assert askpath.agrees(avg(0.1 + 0.2), avg(0.3))
    # a mean that sits on a 9-digit rounding boundary, as two engines give it
    assert askpath.agrees(avg(36.265468749999989), avg(36.265468750000004))
    assert not askpath.agrees(avg(36.2654), avg(36.2655))
    assert not askpath.agrees(avg(1.0, 2), avg(1.0))
    assert not askpath.agrees(avg(1.0), None)
    assert not askpath.agrees(askpath.Answer(500), avg(1.0))


# -- the result schema -----------------------------------------------------------

def _spec():
    with open(BENCHMARK) as fh:
        return json.load(fh)


def test_benchmark_json_shape():
    spec = _spec()
    assert sorted(spec) == ["command", "end_to_end", "paths", "per_layer", "run_seconds", "workloads"]
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", m["name"])
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"])
        assert m["better"] in ("lower", "higher")
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def _fake_run():
    tally = askpath.Tally(upload_s=[0.2, 0.3] * 10, ask_s=[0.1, 0.2] * 60, ask_traced=[True, False] * 60,
                          response_bytes=[100] * 120, uploads=20, asks=120, asks_ok=120)
    cat = {"cold": {e: 2.0 for e in ENTRIES}, "warm": {e: [1.0] for e in ENTRIES},
           "builds": {b: 3.0 for b in BUILDS}}
    return tally, cat


def test_end_to_end_metrics_match_benchmark_json():
    tally, _ = _fake_run()
    metrics, _ = run.end_to_end([1.0, 2.0, 3.0], tally, 10.0)
    spec = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {k: u for k, (v, u) in metrics.items()} == spec
    assert all(v > 0 for v, _ in metrics.values())


def test_per_layer_metrics_match_benchmark_json():
    S = tracing.Span
    spans, jobs, executions, sid = [], {}, {}, iter(range(1, 10_000))

    def add(name, parent, start, end, request=None, job=None, job_range=None, **attrs):
        span = S(next(sid), name, parent, request, start, end, job_range, attrs)
        spans.append(span)
        if job is not None:
            jobs[job] = JobStats(job, f"{tracing.GROUP_PREFIX}{span.span_id}", start, end, tasks=1)
            executions[span.span_id] = 2
        return span.span_id

    up = add("webapp.upload", None, 0, 1, "u1")
    fa = add("engine.analyze_file", up, 0.1, 0.9, "u1")
    add("io.load", fa, 0.1, 0.3, "u1", job=0)
    reg = add("registry.register", fa, 0.3, 0.4, "u1")
    add("registry.activate", reg, 0.31, 0.39, "u1")
    add("profile", fa, 0.4, 0.8, "u1", job=1)
    add("metadata.write", up, 0.9, 0.95, "u1", bytes=10)
    ask = add("webapp.ask", None, 2, 3, "a1", label="t/top")
    add("metadata.read", ask, 2.0, 2.05, "a1")
    eng = add("engine.ask", ask, 2.1, 2.8, "a1")
    add("registry.activate", eng, 2.1, 2.15, "a1")
    add("nl2sql.generate", eng, 2.15, 2.2, "a1")
    ex = add("executor.execute", eng, 2.2, 2.8, "a1", job=2)
    add("executor.gate", ex, 2.2, 2.3, "a1")
    add("formatter", ask, 2.8, 2.85, "a1")
    add("metadata.write", ask, 2.85, 2.9, "a1", bytes=100)
    add("metadata.read", None, 3.0, 3.1, "a1")
    t = 10.0
    for _ in range(2):
        for e in ENTRIES:
            add(f"catalog.{e}", None, t, t + 1, job_range=(3, 3))
            t += 1
    for b in BUILDS:
        add(f"index_build.{b}", None, t, t + 1, job_range=(3, 3))
    tally, cat = _fake_run()
    known = {"date_http500": 3, "cross_file_answers": 2}
    metrics = run.per_layer(spans, jobs, executions, tally, cat, [1.0, 2.0], 4.0, known, 500.0)
    spec = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert {k: u for k, (v, u) in metrics.items()} == spec
    assert metrics["executor.sql_executions"][0] == 2
    assert metrics["session.jvm_start_s"][0] == 4.0 and metrics["session.start_s"][0] == 1.5
    assert metrics["trace.ask_accounted_share"][0] == pytest.approx(1.0)
    assert metrics["metadata.read_s"][0] == pytest.approx(0.15)
