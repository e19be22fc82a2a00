"""The paper's request path, driven through the Flask app's test client.

Every call goes through ``webapp``'s routes: ``/api/upload``,
``/api/ask_question``, ``/api/chat_history`` and ``/api/new_session``.
Answers are read back from the chat history (the route itself returns
only markdown) and checked against a reference answer.

Reference answers are computed once per run, before the timed loop, by
DuckDB running the SQL the offline generator writes for each file over
the same generated table.
"""

from __future__ import annotations

import math
import os
import threading
import time
from dataclasses import dataclass, field

import duckdb

from inputs import CLASSES, UploadFile, questions_for, round_steps

GROUPED = {"sum", "avg", "count"}  # complete results whose row order may tie
SESSION_QUESTIONS = 6  # /api/new_session after this many questions
FIRST_ROWS = 10
RACE_CLASSES = ("sum", "top", "count")


@dataclass(frozen=True)
class Answer:
    """Columns, row count, and the first rows (all rows, order-free, for
    grouped results), values in column-name order. Compare with
    ``agrees``: floats from the two engines differ in the last bits."""

    status: int
    columns: tuple[str, ...] = ()
    row_count: int = -1
    rows: tuple[tuple, ...] = ()


def _norm(v):
    """One spelling per value for both engines: numbers as floats, the
    rest as strings."""
    if v is None:
        return None
    if isinstance(v, (bool, int, float)):
        return float(v) + 0.0
    return str(v)


def _order_key(row: tuple) -> tuple:
    """Sort key of a grouped row: its non-numeric values, then its numbers
    coarsely rounded, so last-bit differences cannot reorder rows."""
    return (tuple("" if v is None else v for v in row if not isinstance(v, float)),
            tuple(format(v, ".6g") for v in row if isinstance(v, float)))


def digest(columns, rows: list[dict], row_count: int, cls: str) -> Answer:
    if cls not in GROUPED:
        rows = rows[:FIRST_ROWS]
    names = tuple(sorted(columns))
    values = [tuple(_norm(r[k]) for k in names) for r in rows]
    if cls in GROUPED:
        values.sort(key=_order_key)
    return Answer(200, names, row_count, tuple(values))


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def agrees(got: Answer, want: Answer | None) -> bool:
    """Same status, columns and row count, and the same rows up to float
    rounding (relative 1e-9)."""
    if want is None:
        return False
    if (got.status, got.columns, got.row_count, len(got.rows)) != (
            want.status, want.columns, want.row_count, len(want.rows)):
        return False
    return all(len(g) == len(w) and all(map(_same, g, w)) for g, w in zip(got.rows, want.rows))


def duckdb_answer(table, sql: str, cls: str, cap: int) -> Answer:
    con = duckdb.connect()
    try:
        con.register("data_table", table)
        rel = con.sql(sql)
        columns = rel.columns
        rows = [dict(zip(columns, r)) for r in rel.fetchall()]
    finally:
        con.close()
    return digest(columns, rows[:cap], len(rows), cls)


@dataclass
class Tally:
    """Outcomes of one client loop, merged across threads."""

    upload_s: list[float] = field(default_factory=list)
    ask_s: list[float] = field(default_factory=list)
    ask_traced: list[bool] = field(default_factory=list)
    response_bytes: list[int] = field(default_factory=list)
    uploads: int = 0
    asks: int = 0
    failed_uploads: int = 0
    failed_asks: int = 0
    asks_ok: int = 0
    mismatches: list[str] = field(default_factory=list)

    def merge(self, other: "Tally") -> None:
        for name in ("upload_s", "ask_s", "ask_traced", "response_bytes", "mismatches"):
            getattr(self, name).extend(getattr(other, name))
        for name in ("uploads", "asks", "failed_uploads", "failed_asks", "asks_ok"):
            setattr(self, name, getattr(self, name) + getattr(other, name))


class Client:
    """One browser: its own test client, cookie session and request ids."""

    def __init__(self, app, tracer, name: str):
        self.http = app.test_client()
        self.tracer = tracer
        self.name = name
        self._n = 0
        self.questions_in_session = 0

    def _request_id(self, kind: str) -> str:
        self._n += 1
        return f"{self.name}-{kind}-{self._n}"

    def upload(self, path: str) -> tuple[float, int, dict]:
        with open(path, "rb") as fh, self.tracer.request(self._request_id("upload")):
            t0 = time.perf_counter()
            with self.tracer.span("webapp.upload"):
                resp = self.http.post(
                    "/api/upload",
                    data={"file": (fh, os.path.basename(path))},
                    content_type="multipart/form-data",
                )
            elapsed = time.perf_counter() - t0
        return elapsed, resp.status_code, (resp.get_json(silent=True) or {})

    def ask(self, file_id: str, question: str, label=None) -> tuple[float, int, dict, int]:
        with self.tracer.request(self._request_id("ask")):
            t0 = time.perf_counter()
            with self.tracer.span("webapp.ask") as attrs:
                if attrs is not None:
                    attrs["label"] = label
                resp = self.http.post(
                    "/api/ask_question", json={"question": question, "file_id": file_id}
                )
            elapsed = time.perf_counter() - t0
            body = resp.get_json(silent=True) or {}
            record = self._history_record(body.get("chat_id"))
        self.questions_in_session += 1
        if self.questions_in_session >= SESSION_QUESTIONS:
            self.http.post("/api/new_session")
            self.questions_in_session = 0
        return elapsed, resp.status_code, record, len(resp.data)

    def _history_record(self, chat_id) -> dict:
        """Read the session's history, as the page does after each answer."""
        history = self.http.get("/api/chat_history").get_json()["history"]
        return next((h for h in history if h["id"] == chat_id), {}) if chat_id else {}


def answer_of(status: int, record: dict, cls: str) -> Answer:
    result = record.get("result") or {}
    if status != 200 or "columns" not in result:
        return Answer(status)
    return digest(result["columns"], result["data"], result["row_count"], cls)


def ask_file(client: Client, tally: Tally, upload: tuple[str, UploadFile], classes,
             expect: dict[tuple[str, str], Answer]) -> None:
    """Upload one file, then ask it each class's question, checking each
    answer against the reference."""
    path, spec = upload
    elapsed, status, body = client.upload(path)
    tally.uploads += 1
    if status != 200:
        tally.failed_uploads += 1
        tally.mismatches.append(f"upload {spec.key}: HTTP {status}")
        return
    tally.upload_s.append(elapsed)
    questions = questions_for(spec)
    for cls in classes:
        elapsed, status, record, nbytes = client.ask(body["file_id"], questions[cls],
                                                     f"{spec.key}/{cls}")
        tally.asks += 1
        if status == 200 and agrees(answer_of(status, record, cls), expect.get((spec.key, cls))):
            tally.asks_ok += 1
            tally.ask_s.append(elapsed)
            tally.ask_traced.append(client.tracer.on)
            tally.response_bytes.append(nbytes)
        else:
            tally.failed_asks += 1
            tally.mismatches.append(f"{client.name} {spec.key}/{cls}: HTTP {status}")


def reference_answers(app, tracer, uploads: dict[str, tuple[str, UploadFile]], tables: dict,
                      cap: int) -> tuple[dict[tuple[str, str], Answer], list[str]]:
    """DuckDB answers for every (file, class). Each file is uploaded once,
    untimed: the generator writes its SQL from the upload's column types.
    The first file's questions are also asked through the app, which warms
    the ask path before timing and checks that Spark agrees with DuckDB.
    Returns the answers and the disagreements."""
    from ai_duckdb_spark.nl2sql import StubSqlGenerator

    client = Client(app, tracer, "reference")
    ref: dict[tuple[str, str], Answer] = {}
    problems = []
    for i, key in enumerate(sorted(uploads)):
        path, spec = uploads[key]
        _, status, body = client.upload(path)
        if status != 200:
            problems.append(f"reference upload {key}: HTTP {status}")
            continue
        questions = questions_for(spec)
        for cls in CLASSES:
            sql = StubSqlGenerator().generate(os.path.basename(path), body["data_info"], questions[cls])
            ref[(key, cls)] = duckdb_answer(tables[spec.content], sql, cls, cap)
            if i == 0:
                _, status, record, _ = client.ask(body["file_id"], questions[cls])
                got = answer_of(status, record, cls)
                if not agrees(got, ref[(key, cls)]):
                    problems.append(f"{key}/{cls}: spark {got} != duckdb {ref[(key, cls)]}")
    return ref, problems


def run_clients(app, tracer, plans: list[list[tuple[str, UploadFile]]], expect, seconds: float,
                min_asks: int, alternate_tracing: bool) -> Tally:
    """Closed loop: each client walks its plan (a cycle of files), uploading
    each file and asking all its classes, until ``seconds`` have passed and
    at least ``min_asks`` questions were answered in total, and then to the
    end of its round (``inputs.round_steps``)."""
    deadline = time.perf_counter() + seconds
    total = Tally()
    lock = threading.Lock()
    asked = [0]
    errors: list[BaseException] = []

    def loop(index: int, plan) -> None:
        client = Client(app, tracer, f"client{index}")
        tally = Tally()
        per_round = round_steps(len({spec.key for _, spec, _ in plan}))
        try:
            step = 0
            while True:
                if step % per_round == 0:
                    with lock:
                        if time.perf_counter() >= deadline and asked[0] >= min_asks:
                            break
                path, spec, classes = plan[step % len(plan)]
                tracer.on = alternate_tracing and step % 2 == 1
                before = tally.asks
                ask_file(client, tally, (path, spec), classes, expect)
                tracer.on = False
                with lock:
                    asked[0] += tally.asks - before
                step += 1
        except BaseException as exc:  # noqa: BLE001 - re-raised in the caller
            errors.append(exc)
        with lock:
            total.merge(tally)

    threads = [threading.Thread(target=loop, args=(i, plan)) for i, plan in enumerate(plans)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return total


def probe_dated(app, tracer, upload: tuple[str, UploadFile]) -> int:
    """Known failure: server errors over the six classes on a file whose
    rows carry a timestamp column."""
    client = Client(app, tracer, "probe-dated")
    path, spec = upload
    _, status, body = client.upload(path)
    if status != 200:
        return len(CLASSES)
    questions = questions_for(spec)
    return sum(client.ask(body["file_id"], questions[c])[1] >= 500 for c in CLASSES)


def probe_race(app, tracer, variants: dict[str, tuple[str, UploadFile]], tables: dict,
               cap: int) -> tuple[int, int]:
    """Known failure: clients asking at once over same-schema files with
    different rows. Returns (answers not from the asker's own file, asks)."""
    from ai_duckdb_spark.nl2sql import StubSqlGenerator

    barrier = threading.Barrier(len(variants))
    wrong, asks = [0], [0]
    lock = threading.Lock()
    errors: list[BaseException] = []

    def loop(index: int, key: str) -> None:
        try:
            client = Client(app, tracer, f"probe-race{index}")
            path, spec = variants[key]
            _, status, body = client.upload(path)
            questions = questions_for(spec)
            own = {
                c: duckdb_answer(tables[key], StubSqlGenerator().generate(
                    os.path.basename(path), body["data_info"], questions[c]), c, cap)
                for c in RACE_CLASSES
            } if status == 200 else {}
            barrier.wait(timeout=60)
            for c in RACE_CLASSES:
                _, status, record, _ = client.ask(body.get("file_id", ""), questions[c])
                with lock:
                    asks[0] += 1
                    wrong[0] += not agrees(answer_of(status, record, c), own.get(c))
        except BaseException as exc:  # noqa: BLE001 - re-raised in the caller
            errors.append(exc)
            barrier.abort()

    threads = [threading.Thread(target=loop, args=(i, k)) for i, k in enumerate(sorted(variants))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return wrong[0], asks[0]
