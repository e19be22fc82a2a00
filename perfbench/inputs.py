"""Seeded inputs for the benchmark: catalog fixtures, upload files, question mix.

Everything the program sees is written here into the run's own work
directory, and the same seed writes byte-identical files and the same
question order.

* ``write_fixtures`` writes the ten catalog tables (the TPC-H-style star
  schema plus events/documents/embeddings) at sf0.01 row counts with the
  repository's own fixture generator, ``scripts/gen_sf1.py``.
* ``write_uploads`` writes one upload file per ingestion path of
  ``sources.io.load_data_from_file``: parquet, header CSV (inferSchema),
  JSON-lines, JSON array, and JSON dict-of-lists (the pandas tier-3
  path). ``write_formats`` writes one table in all five formats. Upload
  tables carry no date/timestamp column: a dated result fails at the
  parent (``dated_upload`` feeds the probe that counts that), and the
  timed mix must not fail. Every file stays under the 16 MB upload cap.
* ``questions_for`` and ``client_plans`` derive the questions, one per
  class the offline SQL generator knows, with seeded literals, and each
  client's seeded order of files and classes.
"""

from __future__ import annotations

import contextlib
import importlib.util
import json
import os
import random
import sys
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
UPLOAD_CAP_BYTES = 16 * 1024 * 1024
FIXTURE_SCALE_DOWN = 100  # gen_sf1.py writes sf1.0; the catalog phase runs sf0.01

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SHIPMODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

# question classes of nl2sql.StubSqlGenerator, in its rule order
CLASSES = ("top", "sum", "avg", "count", "threshold", "select_all")
ASKS_PER_UPLOAD = 3  # half the classes per upload: enough uploads for a steady median


def _unique_money(rng, n, lo_cents):
    """Distinct positive 2-dp amounts: top-N answers have no ties to break,
    and filter literals parse as numbers."""
    return (lo_cents + rng.permutation(n * 7)[:n]) / 100.0


def write_fixtures(out_dir: str) -> str:
    """The catalog tables, from ``scripts/gen_sf1.py`` with its row counts
    divided by ``FIXTURE_SCALE_DOWN``. The generator's own fixed seed is
    kept: like the repository's fixture tiers the catalog data is fixed,
    and the benchmark seed varies the ask path only."""
    spec = importlib.util.spec_from_file_location("gen_sf1", os.path.join(ROOT, "scripts", "gen_sf1.py"))
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    for name in ("N_CUSTOMER", "N_SUPPLIER", "N_PART", "N_ORDERS", "N_EVENTS", "N_DOCUMENTS",
                 "N_EMBEDDINGS"):
        setattr(gen, name, getattr(gen, name) // FIXTURE_SCALE_DOWN)
    gen.OUT_DIR = out_dir
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(gen.SEED)
    with contextlib.redirect_stdout(sys.stderr):  # it reports each table written
        for step in (gen.gen_dims, gen.gen_orders, gen.gen_lineitem, gen.gen_events,
                     gen.gen_documents, gen.gen_embeddings):
            step(rng)
    return out_dir


@dataclass(frozen=True)
class UploadFile:
    """One upload: which file, which columns its questions name."""

    key: str  # stable name, also the uploaded filename
    content: str  # the table the file holds; formats of one table share answers
    fmt: str  # parquet | csv | jsonl | json_array | json_columns
    measure: str  # a numeric column with distinct values
    dim: str  # a string column
    threshold: float  # seeded literal for the filter question
    top_n: int


def upload_tables(seed: int, lineitem_rows: int) -> dict[str, pa.Table]:
    """Date-free upload tables (see module docstring)."""
    rng = np.random.default_rng(seed + 1)

    def table(n, cols):
        return pa.table({name: make(n) for name, make in cols.items()})

    return {
        "lineitem": table(
            lineitem_rows,
            {
                "l_orderkey": lambda n: np.sort(rng.integers(0, n // 4, n)).astype(np.int64),
                "l_partkey": lambda n: rng.integers(0, 20_000, n, dtype=np.int64),
                "l_quantity": lambda n: rng.integers(1, 51, n).astype(np.float64),
                "l_extendedprice": lambda n: _unique_money(rng, n, 90_000),
                "l_tax": lambda n: rng.integers(0, 9, n) / 100.0,
                "l_returnflag": lambda n: [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
                "l_shipmode": lambda n: [SHIPMODES[i] for i in rng.integers(0, 7, n)],
                "l_shipyear": lambda n: rng.integers(1995, 2002, n, dtype=np.int64),
            },
        ),
        "orders": table(
            lineitem_rows // 4,
            {
                "o_orderkey": lambda n: np.arange(n, dtype=np.int64),
                "o_custkey": lambda n: rng.integers(0, 15_000, n, dtype=np.int64),
                "o_orderstatus": lambda n: [("F", "O", "P")[i] for i in rng.integers(0, 3, n)],
                "o_price": lambda n: _unique_money(rng, n, 100_000),
                "o_orderpriority": lambda n: [PRIORITIES[i] for i in rng.integers(0, 5, n)],
            },
        ),
        "customer": table(
            3_000,
            {
                "c_custkey": lambda n: np.arange(n, dtype=np.int64),
                "c_name": lambda n: [f"Customer#{i:09d}" for i in range(n)],
                "c_acctbal": lambda n: _unique_money(rng, n, 100),
                "c_mktsegment": lambda n: [SEGMENTS[i] for i in rng.integers(0, 5, n)],
            },
        ),
        "part": table(
            4_000,
            {
                "p_partkey": lambda n: np.arange(n, dtype=np.int64),
                "p_brand": lambda n: [f"Brand#{i}" for i in rng.integers(0, 25, n)],
                "p_type": lambda n: [TYPES[i] for i in rng.integers(0, 6, n)],
                "p_size": lambda n: rng.integers(1, 51, n, dtype=np.int64),
                "p_retailprice": lambda n: _unique_money(rng, n, 90_000),
            },
        ),
        "supplier": table(
            1_000,
            {
                "s_suppkey": lambda n: np.arange(n, dtype=np.int64),
                "s_region": lambda n: [REGIONS[i] for i in rng.integers(0, 5, n)],
                "s_acctbal": lambda n: _unique_money(rng, n, 100),
            },
        ),
    }


FORMATS = ("parquet", "csv", "jsonl", "json_array", "json_columns")
FORMAT_OF = {
    "lineitem": "parquet",
    "orders": "csv",
    "customer": "jsonl",
    "part": "json_array",
    "supplier": "json_columns",
}
# content -> (measure, dim): names holding none of the generator's class
# keywords (top/sum/total/avg/average/count), so each question lands in
# the class it was written for
LAYOUT = {
    "lineitem": ("l_extendedprice", "l_shipmode"),
    "orders": ("o_price", "o_orderpriority"),
    "customer": ("c_acctbal", "c_mktsegment"),
    "part": ("p_retailprice", "p_brand"),
    "supplier": ("s_acctbal", "s_region"),
    "events_dated": ("value", "event_type"),
}
SUFFIX = {"parquet": "parquet", "csv": "csv", "jsonl": "json", "json_array": "json",
          "json_columns": "json"}


def _write_upload(table: pa.Table, fmt: str, path: str) -> None:
    if fmt == "parquet":
        pq.write_table(table, path)
    elif fmt == "csv":
        pacsv.write_csv(table, path)
    else:
        rows = table.to_pylist()
        with open(path, "w", encoding="utf-8") as fh:
            if fmt == "jsonl":
                fh.writelines(json.dumps(r) + "\n" for r in rows)
            # multi-line documents, so the JSON-lines tier fails over to
            # the array tier and the pandas dict-of-lists tier respectively
            elif fmt == "json_array":
                json.dump(rows, fh, indent=1)
            else:
                json.dump(table.to_pydict(), fh, indent=1)


def _write(out_dir, key, fmt, table, rnd, content=None, layout=None) -> tuple[str, UploadFile]:
    """Write one upload file and derive its question literals."""
    content = content or key
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{key}.{SUFFIX[fmt]}")
    _write_upload(table, fmt, path)
    size = os.path.getsize(path)
    if size >= UPLOAD_CAP_BYTES:
        raise ValueError(f"{path} is {size} bytes, over the upload cap")
    measure, dim = LAYOUT[layout or content]
    values = np.sort(table.column(measure).to_numpy())
    # the filter keeps the top 5-10% of rows: seeded, but a steady size
    literal = float(values[int(len(values) * rnd.uniform(0.90, 0.95))])
    return path, UploadFile(key, content, fmt, measure, dim, literal, rnd.randint(3, 20))


def write_uploads(seed: int, out_dir: str, tables: dict[str, pa.Table]) -> dict[str, tuple[str, UploadFile]]:
    """One file per table, each in its own format (``FORMAT_OF``)."""
    rnd = random.Random(seed)
    return {key: _write(out_dir, key, FORMAT_OF[key], tables[key], rnd) for key in sorted(FORMAT_OF)}


def write_formats(seed: int, out_dir: str, content: str, table: pa.Table) -> dict[str, tuple[str, UploadFile]]:
    """One table in every format, with the same question literals: the
    answers must not depend on the format."""
    return {
        f"{content}_{fmt}": _write(out_dir, f"{content}_{fmt}", fmt, table, random.Random(seed),
                                   content=content)
        for fmt in FORMATS
    }


def race_variants(seed: int, out_dir: str, n: int) -> tuple[dict[str, tuple[str, UploadFile]], dict[str, pa.Table]]:
    """``n`` small parquet files with one schema and different rows."""
    tables = {f"orders_v{i}": upload_tables(seed + 101 * (i + 1), 8_000)["orders"] for i in range(n)}
    files = {key: _write(out_dir, key, "parquet", table, random.Random(seed), layout="orders")
             for key, table in tables.items()}
    return files, tables


def dated_upload(seed: int, out_dir: str, fixtures: str) -> tuple[tuple[str, UploadFile], pa.Table]:
    """A seeded slice of the events fixture, whose rows carry a timestamp
    column (a known failure)."""
    events = pq.read_table(os.path.join(fixtures, "events.parquet"),
                           columns=["event_id", "ts", "event_type", "value"])
    table = events.slice(random.Random(seed).randrange(events.num_rows - 2_000), 2_000)
    return _write(out_dir, "events_dated", "parquet", table, random.Random(seed)), table


def questions_for(f: UploadFile) -> dict[str, str]:
    """Class -> question text for one upload file."""
    m, d = f.measure, f.dim
    return {
        "top": f"top {f.top_n} rows by {m}",
        "sum": f"total {m} by {d}",
        "avg": f"average {m} by {d}",
        "count": f"count of rows by {d}",
        "threshold": f"rows where {m} > {f.threshold:.2f}",
        "select_all": "show me the raw records",
    }


def client_plans(seed: int, uploads: dict[str, tuple[str, UploadFile]], clients: int,
                 steps: int) -> list[list[tuple[str, UploadFile, tuple[str, ...]]]]:
    """Per client, a sequence of steps (file path, file, classes to ask).

    One client walks every file once per cycle, in a seeded order; with
    several clients each owns one file, assigned by the seed. Those are
    the files of the first ``clients`` formats of ``FORMATS``, whatever
    the seed: upload and ask costs differ by format, so a seeded choice of
    formats would move the figures between seeds. Each visit of a file
    asks the next ``ASKS_PER_UPLOAD`` classes of that file's deck, all
    classes in an order fixed per file, so every two visits ask each
    class once. The seed orders the files within a cycle and the
    questions within a visit; which questions a file gets over its first
    n visits does not depend on it, so runs that stop after the same
    number of rounds (``round_steps``) ask the same mix."""
    rnd = random.Random(seed * 7919 + clients)
    keys = sorted(uploads)
    if clients == 1:
        owned = [keys]
    else:
        by_format = sorted(keys, key=lambda k: FORMATS.index(uploads[k][1].fmt))
        owned = [[k] for k in rnd.sample(by_format[:clients], clients)]
    plans = []
    for files in owned:
        plan: list = []
        visits = {key: 0 for key in files}
        while len(plan) < steps:
            cycle = list(files)
            rnd.shuffle(cycle)
            for key in cycle:
                # the deck of the i-th file is CLASSES rotated by i
                first = (files.index(key) + visits[key] * ASKS_PER_UPLOAD) % len(CLASSES)
                classes = [CLASSES[(first + j) % len(CLASSES)] for j in range(ASKS_PER_UPLOAD)]
                rnd.shuffle(classes)
                visits[key] += 1
                plan.append((*uploads[key], tuple(classes)))
        plans.append(plan[:steps])
    return plans


def round_steps(files: int) -> int:
    """Steps after which a client of ``files`` files has visited each of
    them equally often and, with one file, asked every class. Clients
    stop only on such a boundary, so the mix of files and classes in a
    run depends on the number of rounds, not on the seed."""
    return files if files > 1 else len(CLASSES) // ASKS_PER_UPLOAD
