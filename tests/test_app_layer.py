"""App-layer tests: ingestion fallback matrix (FIXTURES.md §C), SQL
sanitation + enforced SELECT-only gate, result shaping, markdown
formatter, metadata CRUD, NL→SQL stub, and the end-to-end engine flow
with independently computed golden values."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from ai_duckdb_spark.engine import AnalyticsEngine
from ai_duckdb_spark.executor import (
    UnsafeSqlError,
    clean_sql_response,
    ensure_select_only,
    execute_sql,
)
from ai_duckdb_spark.formatter import format_analysis_result
from ai_duckdb_spark.metadata import ChatDatabase
from ai_duckdb_spark.nl2sql import StubSqlGenerator, build_prompt
from ai_duckdb_spark.profile import profile_dataframe
from ai_duckdb_spark.sources.io import (
    ERR_BAD_TYPE,
    ERR_EMPTY,
    ERR_NOT_FOUND,
    load_data_from_file,
)

# ---------------------------------------------------------------------------
# A synthetic sales fixture in the reference's shape (FIXTURES.md §A1),
# with golden values computed here, independently of the engine.
# ---------------------------------------------------------------------------
SALES_ROWS = [
    # id, product, category, price, quantity, rep
    (1, "Widget", "Electronics", 100.50, 3, "alice"),
    (2, "Gadget", "Electronics", 250.00, 1, "bob"),
    (3, "Mug", "Home", 12.75, 10, "alice"),
    (4, "Lamp", "Home", 45.20, 2, "carol"),
    (5, "Cable", "Electronics", 9.99, 20, "bob"),
    (6, "Chair", "Home", 89.00, 4, "carol"),
    (7, "Phone", "Electronics", 699.99, 1, "alice"),
]
SALES_COLS = ["id", "product_name", "category", "price", "quantity", "sales_rep"]


def _sales_pdf() -> pd.DataFrame:
    return pd.DataFrame(SALES_ROWS, columns=SALES_COLS)


@pytest.fixture(scope="module")
def sales_csv(tmp_path_factory):
    path = tmp_path_factory.mktemp("data") / "sales.csv"
    _sales_pdf().to_csv(path, index=False)
    return str(path)


# ---------------------------------------------------------------------------
# Hand-assembled BIFF8 (.xls) fixture writers, straight from the
# documented [MS-XLS] record and [MS-CFB] container byte layouts — the
# stdlib reader (sources/xls.py) is pinned against these, not against
# its own output.
# ---------------------------------------------------------------------------
import struct as _struct


def _rec(rid: int, payload: bytes) -> bytes:
    return _struct.pack("<HH", rid, len(payload)) + payload


def _bof_payload(dt: int) -> bytes:
    # vers=0x0600 (BIFF8), dt, rupBuild, rupYear, bfh, sfo
    return _struct.pack("<HHHHII", 0x0600, dt, 0x0DBB, 0x07CC, 0, 0)


def _xls_cell_records() -> bytes:
    def labelsst(r, c, isst):
        return _rec(0x00FD, _struct.pack("<HHHI", r, c, 0, isst))

    def number(r, c, v):
        return _rec(0x0203, _struct.pack("<HHHd", r, c, 0, v))

    def rk_int(v, div100=False):
        return ((v & 0x3FFFFFFF) << 2) | 2 | (1 if div100 else 0)

    def rk_float(v):
        (bits,) = _struct.unpack("<Q", _struct.pack("<d", v))
        return (bits >> 32) & 0xFFFFFFFC

    def rk(r, c, rkval):
        return _rec(0x027E, _struct.pack("<HHHI", r, c, 0, rkval))

    def boolerr(r, c, v):
        return _rec(0x0205, _struct.pack("<HHHBB", r, c, 0, int(v), 0))

    def label(r, c, s):
        return _rec(
            0x0204, _struct.pack("<HHHHB", r, c, 0, len(s), 0) + s.encode("latin-1")
        )

    header = labelsst(0, 0, 0) + labelsst(0, 1, 1) + label(0, 2, "flag") + label(0, 3, "note")
    row1 = (
        labelsst(1, 0, 2)  # alice
        + number(1, 1, 12.5)
        + boolerr(1, 2, True)
        + label(1, 3, "inline")
    )
    row2 = labelsst(2, 0, 3) + rk(2, 1, rk_int(-3)) + boolerr(2, 2, False)  # bob
    row3 = label(3, 0, "carol") + rk(3, 1, rk_int(125, div100=True))
    # dave via MULRK (two columns: score=7.0 float-RK, flag col skipped)
    mulrk = _rec(
        0x00BD,
        _struct.pack("<HH", 4, 1)
        + _struct.pack("<HI", 0, rk_float(7.0))
        + _struct.pack("<H", 1),
    )
    row4 = label(4, 0, "dave") + mulrk
    return header + row1 + row2 + row3 + row4


def _biff8_workbook(sst: list[str], sheet_cells: bytes, pad_to: int | None) -> bytes:
    sst_payload = _struct.pack("<II", len(sst), len(sst))
    for s in sst:
        sst_payload += _struct.pack("<HB", len(s), 0) + s.encode("latin-1")
    globals_core = _rec(0x0809, _bof_payload(0x0005)) + _rec(0x00FC, sst_payload)
    bs_stub = _struct.pack("<IHBB", 0, 0, 6, 0) + b"Sheet1"
    globals_len = len(globals_core) + len(_rec(0x0085, bs_stub)) + len(_rec(0x000A, b""))
    boundsheet = _struct.pack("<IHBB", globals_len, 0, 6, 0) + b"Sheet1"
    sheet = _rec(0x0809, _bof_payload(0x0010)) + sheet_cells + _rec(0x000A, b"")
    wb = globals_core + _rec(0x0085, boundsheet) + _rec(0x000A, b"") + sheet
    if pad_to is not None and len(wb) < pad_to:
        wb += b"\x00" * (pad_to - len(wb))
    return wb


def _make_cfb(stream: bytes, mini: bool) -> bytes:
    """Wrap a Workbook stream in a minimal v3 OLE2 compound file."""
    SS, MS = 512, 64
    FREE, END, FATSECT = 0xFFFFFFFF, 0xFFFFFFFE, 0xFFFFFFFD

    def pad(b: bytes, size: int) -> bytes:
        return b + b"\x00" * (-len(b) % size)

    def direntry(name: str, otype: int, start: int, size: int) -> bytes:
        raw = name.encode("utf-16-le") + b"\x00\x00"
        b = raw + b"\x00" * (64 - len(raw))
        b += _struct.pack("<HBB", len(raw), otype, 1)
        b += _struct.pack("<iii", -1, -1, -1)
        b += b"\x00" * 36  # clsid + state + timestamps
        b += _struct.pack("<II", start, size) + b"\x00" * 4
        assert len(b) == 128
        return b

    if mini:
        assert len(stream) < 4096, "mini-stream streams must be < cutoff"
        cont = pad(stream, MS)
        n_mini = len(cont) // MS
        minifat = [i + 1 for i in range(n_mini - 1)] + [END]
        minifat_sect = pad(_struct.pack(f"<{len(minifat)}I", *minifat), SS)
        cont_padded = pad(cont, SS)
        n_cont = len(cont_padded) // SS
        # sectors: 0=FAT 1=dir 2=miniFAT 3..=mini-stream container
        fat = [FATSECT, END, END] + [3 + i + 1 for i in range(n_cont - 1)] + [END]
        root = direntry("Root Entry", 5, 3, len(cont))
        wbent = direntry("Workbook", 2, 0, len(stream))
        body = minifat_sect + cont_padded
        minifat_start, n_minifat = 2, 1
    else:
        data = pad(stream, SS)
        n_data = len(data) // SS
        # sectors: 0=FAT 1=dir 2..=stream
        fat = [FATSECT, END] + [2 + i + 1 for i in range(n_data - 1)] + [END]
        root = direntry("Root Entry", 5, END, 0)
        wbent = direntry("Workbook", 2, 2, len(stream))
        body = data
        minifat_start, n_minifat = FREE, 0

    fat_sect = pad(_struct.pack(f"<{len(fat)}I", *fat), SS).ljust(SS, b"\xff")
    fat_sect = _struct.pack(f"<{len(fat)}I", *fat) + b"\xff" * (SS - 4 * len(fat))
    dir_sect = pad(root + wbent, SS)

    header = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\x00" * 16
    header += _struct.pack("<HHHHH", 0x003E, 0x0003, 0xFFFE, 9, 6)
    header += b"\x00" * 6
    header += _struct.pack(
        "<IIIIIIIII", 0, 1, 1, 0, 4096, minifat_start, n_minifat, END, 0
    )
    header += _struct.pack("<I", 0) + b"\xff" * (108 * 4)  # DIFAT[0]=0, rest FREE
    assert len(header) == 512
    return header + fat_sect + dir_sect + body
# ---------------------------------------------------------------------------
class TestSources:
    def test_excel_resource_bombs_rejected(self, tmp_path):
        """Fuzz-found DoS shapes must raise promptly (caught upstream by
        load_data_from_file) instead of allocating: (1) a BIFF8 stream
        whose single far cell implies a 65k x 256 dense grid, (2) a CFB
        header claiming billions of DIFAT sectors over a self-looping
        chain, (3) an xlsx whose one cell ref 'ZZZZZZ1' implies 26^6
        columns."""
        import io
        import struct as s
        import time
        import zipfile

        import pytest

        from ai_duckdb_spark.sources.io import _read_xlsx_stdlib
        from ai_duckdb_spark.sources.xls import read_xls_stdlib

        def wrap_wb(cells: bytes) -> bytes:
            gc = _rec(0x0809, _bof_payload(0x0005))
            stub = s.pack("<IHBB", 0, 0, 2, 0) + b"S1"
            glen = len(gc) + len(_rec(0x0085, stub)) + len(_rec(0x000A, b""))
            bs = s.pack("<IHBB", glen, 0, 2, 0) + b"S1"
            sheet = _rec(0x0809, _bof_payload(0x0010)) + cells + _rec(0x000A, b"")
            return _make_cfb(gc + _rec(0x0085, bs) + _rec(0x000A, b"") + sheet, mini=True)

        # (1) sparse far cell -> implied dense grid
        far = _rec(0x0203, s.pack("<HHHd", 0, 0, 0, 1.0)) + _rec(
            0x0203, s.pack("<HHHd", 65000, 200, 0, 2.0)
        )
        p = tmp_path / "bomb1.xls"
        p.write_bytes(wrap_wb(far))
        t0 = time.time()
        with pytest.raises(ValueError):
            read_xls_stdlib(str(p))
        assert time.time() - t0 < 2

        # (2) huge n_difat over a self-looping chain: the walk is capped
        # at the file's real sector count, so the claim is ignored and
        # the reader must finish PROMPTLY (raise or parse, either way —
        # before the fix this looped for minutes allocating gigabytes)
        ok = wrap_wb(_rec(0x0203, s.pack("<HHHd", 0, 0, 0, 1.0)))
        bomb = bytearray(ok)
        s.pack_into("<I", bomb, 72, 0xFFFFFF)  # header: number of DIFAT sectors
        s.pack_into("<i", bomb, 68, 0)  # DIFAT chain start -> sector 0 (loops)
        p2 = tmp_path / "bomb2.xls"
        p2.write_bytes(bytes(bomb))
        t0 = time.time()
        try:
            read_xls_stdlib(str(p2))
        except Exception:
            pass
        assert time.time() - t0 < 2

        # (3) xlsx column bomb
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as z:
            z.writestr(
                "xl/worksheets/sheet1.xml",
                '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
                '<sheetData><row r="1"><c r="A1"><v>1</v></c>'
                '<c r="ZZZZZZ1"><v>2</v></c></row></sheetData></worksheet>',
            )
        p3 = tmp_path / "bomb3.xlsx"
        p3.write_bytes(buf.getvalue())
        t0 = time.time()
        with pytest.raises(ValueError):
            _read_xlsx_stdlib(str(p3))
        assert time.time() - t0 < 2

    def test_missing_file(self, spark):
        df, err = load_data_from_file(spark, "/nonexistent/file.csv")
        assert df is None and err == ERR_NOT_FOUND

    def test_bad_extension(self, spark, tmp_path):
        p = tmp_path / "bad.txt"
        p.write_text("hello")
        df, err = load_data_from_file(spark, str(p))
        assert df is None and err == ERR_BAD_TYPE

    def test_empty_csv(self, spark, tmp_path):
        # header only: columns but no rows, rejected by analyze_file's
        # profile before the file is registered
        p = tmp_path / "empty.csv"
        p.write_text("a,b,c\n")
        engine = AnalyticsEngine(spark)
        assert engine.analyze_file(str(p), file_id="empty") == {"error": ERR_EMPTY}
        assert engine.registry.activate("empty") is None

    def test_no_columns_is_empty(self, spark, tmp_path):
        p = tmp_path / "blank.csv"
        p.write_text("")
        df, err = load_data_from_file(spark, str(p))
        assert df is None and err == ERR_EMPTY

    def test_parquet_load_runs_no_job(self, spark, tmp_path, spark_jobs):
        # the schema comes from the footer, read on the driver, and there
        # is no emptiness probe: emptiness is decided by the profile's count
        p = tmp_path / "t.parquet"
        _sales_pdf().to_parquet(p)
        spark_jobs.take()
        _, err = load_data_from_file(spark, str(p))
        assert err is None
        assert spark_jobs.take() == []

    # file content (None: a TIMESTAMP(NANOS) parquet file) -> (columns, error)
    FALLBACKS = {
        "lines_top_level_array.json": ('[{"a": 1}, {"a": 2}]\n{"a": 3}\n', (["a"], None)),
        "lines_two_per_line.json": ('{"a": 1} {"b": 2}\n{"a": 3}\n', (["a"], None)),
        "lines_two_per_line_comma.json": ('{"a": 1}, {"b": 2}\n{"a": 3}\n', (["a"], None)),
        "lines_bom.json": ('\ufeff{"a": 1}\n{"a": 2}\n', (["a"], None)),
        "lines_string_across_lines.json": (
            '{"a": "x}\n{", "b": 1}\n',
            (None, "文件加载失败: Invalid control character at: line 1 column 10 (char 9)"),
        ),
        "lines_malformed.json": (
            '{"a": 1}\n{"a":\n{"a": 3}\n',
            (None, "文件加载失败: Extra data: line 2 column 1 (char 9)"),
        ),
        "lines_utf16.json": (
            '{"a": 1}\n{"a": 2}\n'.encode("utf-16"),
            (None, "文件加载失败: 'utf-8' codec can't decode byte 0xff in position 0: invalid start byte"),
        ),
        "array_empty.json": ("[]", (None, "文件加载失败: list index out of range")),
        "array_mixed.json": (
            json.dumps([{"a": 1}, 5, "x"], indent=1),
            (None, "文件加载失败: 'int' object has no attribute 'keys'"),
        ),
        "nanos.parquet": (
            None,
            (
                None,
                "文件加载失败: [PARQUET_TYPE_ILLEGAL] Illegal Parquet type: "
                "INT64 (TIMESTAMP(NANOS,false)). SQLSTATE: 42846",
            ),
        ),
    }

    @pytest.mark.parametrize("name", list(FALLBACKS))
    def test_driver_schema_fallbacks_keep_the_readers_outcome(self, spark, tmp_path, name):
        """Files the driver-side schema does not take get the reader's own
        (columns, error): what the loader gave before it read any schema
        on the driver."""
        content, expected = self.FALLBACKS[name]
        p = tmp_path / name
        if content is None:
            import pyarrow as pa
            import pyarrow.parquet as pq

            pq.write_table(pa.table({"ts": pa.array([1, 2], pa.timestamp("ns"))}), p)
        elif isinstance(content, bytes):
            p.write_bytes(content)
        else:
            p.write_text(content, encoding="utf-8")
        df, err = load_data_from_file(spark, str(p))
        assert (df.columns if df is not None else None, err) == expected

    @pytest.mark.parametrize(
        "doc, rows",
        [
            ([{"a": 1, "b": "x"}, {"a": 2, "b": "y"}], 2),
            ({"col1": [1, 2, 3], "col2": ["a", "b", "c"]}, 3),
        ],
        ids=["array", "dict_of_lists"],
    )
    def test_pretty_json_runs_no_failed_job(self, spark, tmp_path, spark_jobs, doc, rows):
        # a first line of "[" or "{" can only fail the JSON-Lines read
        p = tmp_path / "pretty.json"
        p.write_text(json.dumps(doc, indent=2))
        spark_jobs.take()
        df, err = load_data_from_file(spark, str(p))
        assert err is None and df.count() == rows
        assert spark_jobs.failed(spark_jobs.take()) == []

    def test_csv(self, spark, sales_csv):
        df, err = load_data_from_file(spark, sales_csv)
        assert err is None
        assert df.count() == len(SALES_ROWS)
        assert df.columns == SALES_COLS

    def test_parquet(self, spark, tmp_path):
        p = tmp_path / "t.parquet"
        _sales_pdf().to_parquet(p)
        df, err = load_data_from_file(spark, str(p))
        assert err is None and df.count() == len(SALES_ROWS)

    def test_json_tier1_jsonl(self, spark, tmp_path):
        p = tmp_path / "tier1.json"
        p.write_text("\n".join(json.dumps({"a": i, "b": f"x{i}"}) for i in range(3)))
        df, err = load_data_from_file(spark, str(p))
        assert err is None and df.count() == 3 and set(df.columns) == {"a", "b"}

    def test_json_tier2_array(self, spark, tmp_path):
        p = tmp_path / "tier2.json"
        p.write_text(json.dumps([{"a": 1, "b": "x"}, {"a": 2, "b": "y"}], indent=2))
        df, err = load_data_from_file(spark, str(p))
        assert err is None and df.count() == 2

    def test_json_tier3_dict_of_lists(self, spark, tmp_path):
        # pretty-printed (multi-line) dict-of-lists → columns, 3 rows —
        # matches the reference's pandas tier-2 behavior
        p = tmp_path / "tier3cols.json"
        p.write_text(json.dumps({"col1": [1, 2, 3], "col2": ["a", "b", "c"]}, indent=2))
        df, err = load_data_from_file(spark, str(p))
        assert err is None
        assert df.count() == 3 and set(df.columns) == {"col1", "col2"}

    def test_json_single_line_dict_of_lists_is_one_row(self, spark, tmp_path):
        # single-LINE dict-of-lists: the reference's tier 1
        # (pd.read_json lines=True) yields ONE row of array cells —
        # verified against pandas; our JSONL tier matches it
        p = tmp_path / "oneline.json"
        p.write_text(json.dumps({"col1": [1, 2, 3], "col2": ["a", "b", "c"]}))
        df, err = load_data_from_file(spark, str(p))
        assert err is None
        assert df.count() == 1
        assert dict(df.dtypes)["col1"].startswith("array")

    def test_json_tier3_single_dict(self, spark, tmp_path):
        p = tmp_path / "tier3row.json"
        p.write_text(json.dumps({"a": 1, "b": "x"}))
        df, err = load_data_from_file(spark, str(p))
        assert err is None and df.count() == 1

    def test_json_scalar_rejected(self, spark, tmp_path):
        p = tmp_path / "scalar.json"
        p.write_text("42")
        df, err = load_data_from_file(spark, str(p))
        assert df is None and "不支持的JSON格式" in err

    def test_excel_corrupt_is_clean_error(self, spark, tmp_path):
        # a broken zip → clean error tuple, not a crash
        p = tmp_path / "t.xlsx"
        p.write_bytes(b"PK\x03\x04 fake")
        df, err = load_data_from_file(spark, str(p))
        assert df is None and "文件加载失败" in err

    def test_xlsx_stdlib_reader(self, spark, tmp_path):
        """Without openpyxl, .xlsx loads via the stdlib SpreadsheetML
        fallback: shared strings, numerics, bools, inline strings,
        missing cells."""
        import zipfile

        ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
        shared = (
            f'<sst {ns} count="3" uniqueCount="3">'
            "<si><t>name</t></si><si><t>score</t></si><si><t>alice</t></si></sst>"
        )
        sheet = (
            f'<worksheet {ns}><sheetData>'
            '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c>'
            '<c r="C1" t="str"><v>flag</v></c></row>'
            '<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>12.5</v></c>'
            '<c r="C2" t="b"><v>1</v></c></row>'
            '<row r="3"><c r="A3" t="inlineStr"><is><t>bob</t></is></c>'
            '<c r="B3"><v>7</v></c></row>'
            "</sheetData></worksheet>"
        )
        p = tmp_path / "mini.xlsx"
        with zipfile.ZipFile(p, "w") as zf:
            zf.writestr("xl/sharedStrings.xml", shared)
            zf.writestr("xl/worksheets/sheet1.xml", sheet)

        df, err = load_data_from_file(spark, str(p))
        assert err is None
        rows = {r["name"]: r.asDict() for r in df.collect()}
        assert set(df.columns) == {"name", "score", "flag"}
        assert rows["alice"]["score"] == 12.5 and rows["alice"]["flag"] is True
        assert rows["bob"]["score"] == 7.0 and rows["bob"]["flag"] is None

    @pytest.mark.parametrize("mini", [False, True], ids=["fat-stream", "mini-stream"])
    def test_xls_stdlib_reader(self, spark, tmp_path, mini):
        """Without xlrd, .xls loads via the stdlib BIFF8/CFB fallback.
        The fixture is hand-assembled from the documented [MS-CFB]/[MS-XLS]
        byte layouts (both the regular-FAT and mini-stream container
        placements) covering LABELSST, NUMBER, RK (int + div100 + float),
        MULRK, BOOLERR, and inline LABEL cells."""
        wb = _biff8_workbook(
            sst=["name", "score", "alice", "bob"],
            sheet_cells=_xls_cell_records(),
            pad_to=None if mini else 4096,
        )
        p = tmp_path / "mini.xls"
        p.write_bytes(_make_cfb(wb, mini=mini))

        df, err = load_data_from_file(spark, str(p))
        assert err is None
        rows = {r["name"]: r.asDict() for r in df.collect()}
        assert set(df.columns) == {"name", "score", "flag", "note"}
        assert rows["alice"]["score"] == 12.5 and rows["alice"]["flag"] is True
        assert rows["alice"]["note"] == "inline"
        assert rows["bob"]["score"] == -3.0 and rows["bob"]["flag"] is False
        assert rows["carol"]["score"] == 1.25  # RK div100 path (125/100)
        assert rows["dave"]["score"] == 7.0  # MULRK path

    def test_xls_sst_continue_split(self, tmp_path):
        """An SST string split across a CONTINUE record boundary (with the
        re-stated option byte) must reassemble — the layout Excel writes
        for any realistically sized string table."""
        import struct

        from ai_duckdb_spark.sources.xls import read_xls_stdlib

        sst_payload = struct.pack("<II", 2, 2)
        sst_payload += struct.pack("<HB", 5, 0) + b"alpha"
        sst_payload += struct.pack("<HB", 9, 0) + b"beta"  # splits here
        continue_payload = b"\x00" + b"gamma"  # option byte + the rest
        globals_recs = (
            _rec(0x0809, _bof_payload(0x0005))
            + _rec(0x00FC, sst_payload)
            + _rec(0x003C, continue_payload)
        )
        bs = struct.pack("<IHBB", 0, 0, 3, 0) + b"Sh1"  # offset patched below
        globals_len = len(globals_recs) + len(_rec(0x0085, bs)) + len(_rec(0x000A, b""))
        bs = struct.pack("<IHBB", globals_len, 0, 3, 0) + b"Sh1"
        sheet = (
            _rec(0x0809, _bof_payload(0x0010))
            + _rec(0x00FD, struct.pack("<HHHI", 0, 0, 0, 0))  # header: alpha
            + _rec(0x00FD, struct.pack("<HHHI", 1, 0, 0, 1))  # row: betagamma
            + _rec(0x000A, b"")
        )
        wb = globals_recs + _rec(0x0085, bs) + _rec(0x000A, b"") + sheet
        p = tmp_path / "cont.xls"
        p.write_bytes(_make_cfb(wb, mini=True))
        pdf = read_xls_stdlib(str(p))
        assert list(pdf.columns) == ["alpha"]
        assert pdf.iloc[0, 0] == "betagamma"


# ---------------------------------------------------------------------------
# Executor: fence strip + REAL select-only enforcement (X4/X5)
# ---------------------------------------------------------------------------
class TestExecutor:
    def test_fence_strip(self):
        assert clean_sql_response("```sql\nSELECT 1\n```") == "SELECT 1"
        assert clean_sql_response("  SELECT 2  ") == "SELECT 2"
        assert clean_sql_response("```sql SELECT 3```") == "SELECT 3"

    @pytest.mark.parametrize(
        "bad",
        [
            "DROP TABLE data_table",
            "DELETE FROM data_table",
            "INSERT INTO data_table VALUES (1)",
            "UPDATE data_table SET a = 1",
            "CREATE TABLE x AS SELECT 1",
            "TRUNCATE TABLE data_table",
            "SELECT 1; DROP TABLE data_table",
        ],
    )
    def test_gate_blocks_writes(self, spark, bad):
        with pytest.raises(UnsafeSqlError):
            ensure_select_only(spark, bad)

    @pytest.mark.parametrize(
        "good",
        [
            "SELECT 1 AS x",
            "WITH t AS (SELECT 1 AS x) SELECT * FROM t",
            "VALUES (1, 'a')",
        ],
    )
    def test_gate_allows_queries(self, spark, good):
        ensure_select_only(spark, good)  # must not raise

    def test_gate_blocks_cte_insert(self, spark):
        """First token WITH is allowlisted; the plan layer must still
        reject a trailing write."""
        with pytest.raises(UnsafeSqlError):
            ensure_select_only(spark, "WITH t AS (SELECT 1 AS x) INSERT INTO tbl SELECT * FROM t")

    def test_gate_fails_closed_without_parser(self):
        """When the Catalyst parser is unreachable (Spark Connect /
        private-API drift) the gate must fall back to the lexical
        blacklist, not silently pass writes."""

        class NoJvmSession:
            @property
            def _jsparkSession(self):
                raise AttributeError("no JVM (connect mode)")

        with pytest.raises(UnsafeSqlError):
            ensure_select_only(
                NoJvmSession(), "WITH t AS (SELECT 1 AS x) INSERT INTO tbl SELECT * FROM t"
            )
        # plain reads still pass through the fallback
        ensure_select_only(NoJvmSession(), "SELECT a FROM tbl WHERE b > 1")

    def test_execute_caps_but_counts_all(self, spark):
        result = execute_sql(spark, "SELECT id FROM range(100) AS t(id)", row_cap=7)
        assert result["row_count"] == 100
        assert len(result["data"]) == 7
        assert result["truncated"] is True

    def test_execute_fenced(self, spark):
        result = execute_sql(spark, "```sql\nSELECT 1 AS one\n```")
        assert result["data"] == [{"one": 1}] and result["row_count"] == 1

    @pytest.mark.parametrize(
        "rows, truncated",
        [(0, False), (7, False), (8, True)],
        ids=["empty", "exactly_cap", "cap_plus_one"],
    )
    def test_execute_cap_boundaries(self, spark, rows, truncated):
        result = execute_sql(spark, f"SELECT id FROM range({rows}) AS t(id)", row_cap=7)
        assert result["columns"] == ["id"]
        assert result["row_count"] == rows
        assert result["truncated"] is truncated
        assert result["data"] == [{"id": i} for i in range(min(rows, 7))]

    def test_execute_order_by_limit_keeps_top_rows(self, spark):
        sql = "SELECT id, id % 7 AS k FROM range(100) AS t(id) ORDER BY k DESC, id LIMIT 5"
        expected = [r.asDict() for r in spark.sql(sql).collect()]
        assert [r["k"] for r in expected] == [6] * 5
        result = execute_sql(spark, sql, row_cap=10)
        assert result["data"] == expected
        assert result["row_count"] == 5 and result["truncated"] is False
        capped = execute_sql(spark, sql, row_cap=3)
        assert capped["data"] == expected[:3]
        assert capped["row_count"] == 5 and capped["truncated"] is True

    def test_under_cap_answer_runs_one_query(self, spark, sql_executions):
        sql = "SELECT id % 3 AS k, COUNT(*) AS n FROM range(1000) AS t(id) GROUP BY k"
        result = execute_sql(spark, sql, row_cap=10)
        assert sql_executions.take() == 1
        assert result["row_count"] == 3 and result["truncated"] is False

    def test_over_cap_answer_runs_collect_and_count(self, spark, sql_executions):
        result = execute_sql(spark, "SELECT * FROM range(1000)", row_cap=10)
        assert sql_executions.take() == 2
        assert result["row_count"] == 1000 and result["truncated"] is True


# ---------------------------------------------------------------------------
# Formatter (K3 — reference app.py:35-107 observable contract)
# ---------------------------------------------------------------------------
class TestFormatter:
    RESULT = {
        "question": "总销售额是多少？",
        "sql_query": "SELECT sales_rep, SUM(price*quantity) AS total FROM data_table GROUP BY sales_rep",
        "data_info": {"行数": 1234567, "列数": 6, "列名": SALES_COLS},
        "result": {
            "columns": ["sales_rep", "total"],
            "data": [
                {"sales_rep": "alice", "total": 1128.74},
                {"sales_rep": None, "total": 42},
                {"sales_rep": "x" * 60, "total": 1000000},
            ],
            "row_count": 3,
        },
    }

    def test_markdown_shape(self):
        md = format_analysis_result(self.RESULT)
        assert "```sql" in md
        assert "- **行数**: 1,234,567" in md  # thousands separator
        assert "| 1128.74 |" in md  # float %.2f
        assert "| null |" in md  # None → null
        assert "| 1,000,000 |" in md  # int thousands sep
        assert ("x" * 47 + "...") in md  # 50-char truncation

    def test_footer_on_big_results(self):
        big = dict(self.RESULT)
        big["result"] = {
            "columns": ["a"],
            "data": [{"a": i} for i in range(15)],
            "row_count": 15,
        }
        md = format_analysis_result(big)
        assert "*显示前 10 行，共 15 行*" in md
        assert md.count("| ") <= 2 + 11 * 1 + 24  # header+sep+10 rows (loose bound)

    def test_error_shape(self):
        assert format_analysis_result({"error": "boom"}) == "❌ **错误**: boom"

    def test_empty_result(self):
        empty = dict(self.RESULT)
        empty["result"] = {"columns": ["a"], "data": [], "row_count": 0}
        assert "没有找到匹配的数据。" in format_analysis_result(empty)


# ---------------------------------------------------------------------------
# Metadata store (§2.10)
# ---------------------------------------------------------------------------
class TestMetadata:
    def test_crud_roundtrip(self, tmp_path):
        db = ChatDatabase(str(tmp_path / "chat.db"))
        db.create_session("s1")
        assert db.session_exists("s1") and not db.session_exists("nope")

        db.save_file_info("s1", {
            "id": "f1", "filename": "sales.csv", "filepath": "/tmp/sales.csv",
            "data_info": {"行数": 7, "列数": 6, "列名": SALES_COLS},
        })
        files = db.get_files("s1")
        assert [f["id"] for f in files] == ["f1"]
        detail = db.get_file_detail("f1")
        assert detail["data_info"]["行数"] == 7

        db.save_chat_record("s1", "f1", {
            "id": "c1", "timestamp": "2026-08-13T10:00:00",
            "question": "q1?", "result": {"row_count": 1}, "markdown_result": "md1",
        })
        db.save_chat_record("s1", "f1", {
            "id": "c2", "timestamp": "2026-08-13T11:00:00",
            "question": "q2?", "result": {"row_count": 2}, "markdown_result": "md2",
        })
        history = db.get_chat_history("s1")
        assert [h["id"] for h in history] == ["c1", "c2"]
        assert history[0]["filename"] == "sales.csv"

        sessions = db.get_all_sessions()
        assert len(sessions) == 1  # one row per session (reference bug fixed)
        assert sessions[0]["chat_count"] == 2
        assert sessions[0]["latest_question"] == "q2?"

        db.delete_session("s1")
        assert not db.session_exists("s1")
        assert db.get_chat_history("s1") == []


# ---------------------------------------------------------------------------
# NL→SQL stub + prompt contract
# ---------------------------------------------------------------------------
class TestNl2Sql:
    INFO = {
        "行数": 7, "列数": 6, "列名": SALES_COLS,
        "数据类型": {
            "id": "bigint", "product_name": "string", "category": "string",
            "price": "double", "quantity": "bigint", "sales_rep": "string",
        },
        "前5行数据": [dict(zip(SALES_COLS, SALES_ROWS[0]))],
    }

    def test_prompt_contract(self):
        prompt = build_prompt("sales.csv", self.INFO, "哪个类别的总销售额最高？")
        assert "data_table" in prompt
        assert "Spark SQL兼容" in prompt
        assert "sales.csv" in prompt
        assert "price" in prompt

    def test_stub_rules(self):
        gen = StubSqlGenerator()
        assert "LIMIT 3" in gen.generate("f", self.INFO, "top 3 by price")
        assert "SUM(price)" in gen.generate("f", self.INFO, "sum of price by category")
        assert "SUM(price)" in gen.generate("f", self.INFO, "total price by category")
        assert "GROUP BY category" in gen.generate("f", self.INFO, "average price by category")
        assert "WHERE quantity > 2" in gen.generate("f", self.INFO, "rows with quantity > 2")
        assert gen.generate("f", self.INFO, "tell me a joke") == "SELECT * FROM data_table"

    def test_openai_compat_generator_with_faked_transport(self):
        from ai_duckdb_spark.nl2sql import OpenAICompatSqlGenerator

        seen = {}

        def fake_transport(url, headers, body):
            seen.update(url=url, headers=headers, body=body)
            return {"choices": [{"message": {"content": "```sql\nSELECT 1 AS x\n```"}}]}

        gen = OpenAICompatSqlGenerator(
            base_url="http://fake.local/v1/", api_key="k", model="m", transport=fake_transport
        )
        out = gen.generate("sales.csv", self.INFO, "anything")
        assert out == "```sql\nSELECT 1 AS x\n```"
        assert seen["url"] == "http://fake.local/v1/chat/completions"
        assert seen["headers"]["Authorization"] == "Bearer k"
        assert seen["body"]["model"] == "m"
        assert "data_table" in seen["body"]["messages"][0]["content"]

    def test_openai_compat_requires_base_url(self, monkeypatch, tmp_path):
        from ai_duckdb_spark.nl2sql import OpenAICompatSqlGenerator

        monkeypatch.delenv("OPENAI_BASE_URL", raising=False)
        monkeypatch.chdir(tmp_path)  # no .env anywhere up from tmp
        with pytest.raises(RuntimeError):
            OpenAICompatSqlGenerator()

    def test_load_env_file_semantics(self, monkeypatch, tmp_path):
        """Reference app.py:12 load_dotenv() parity: KEY=VALUE lines,
        export prefix, quotes, comments; existing env NEVER overridden;
        the file is found by walking UP from cwd."""
        import os

        from ai_duckdb_spark.nl2sql import load_env_file

        (tmp_path / ".env").write_text(
            "# comment\n"
            "GEMINI_API_KEY=from-dotenv\n"
            "export OPENAI_BASE_URL='http://dotenv.local/v1'\n"
            'OPENAI_MODEL="m-dotenv"\n'
            "ALREADY_SET=loser\n"
            "not a kv line\n"
        )
        sub = tmp_path / "a" / "b"
        sub.mkdir(parents=True)
        monkeypatch.chdir(sub)  # upward search finds tmp_path/.env
        for k in ("GEMINI_API_KEY", "OPENAI_BASE_URL", "OPENAI_MODEL"):
            monkeypatch.delenv(k, raising=False)
        monkeypatch.setenv("ALREADY_SET", "winner")
        # monkeypatch.delenv on an ALREADY-missing key registers no undo,
        # so the vars load_env_file applies must be popped explicitly or
        # they leak into later tests (bit the webapp surface tests once:
        # a leaked OPENAI_BASE_URL flipped default_generator online)
        applied = load_env_file()
        try:
            assert applied["GEMINI_API_KEY"] == "from-dotenv"
            assert os.environ["OPENAI_BASE_URL"] == "http://dotenv.local/v1"
            assert os.environ["OPENAI_MODEL"] == "m-dotenv"
            assert os.environ["ALREADY_SET"] == "winner"  # no override
            assert "ALREADY_SET" not in applied
        finally:
            for k in applied:
                os.environ.pop(k, None)

    def test_env_walk_stops_at_project_root_marker(self, monkeypatch, tmp_path):
        """r13 (r12 ADVICE): the upward .env search is BOUNDED — a .git
        or pyproject.toml marker marks the project root, and a stray
        .env in some directory ABOVE the project must not inject keys."""
        import os

        from ai_duckdb_spark.nl2sql import load_env_file

        (tmp_path / ".env").write_text("SNEAKY_KEY=oops\n")
        proj = tmp_path / "proj"
        (proj / ".git").mkdir(parents=True)
        sub = proj / "src"
        sub.mkdir()
        monkeypatch.chdir(sub)
        monkeypatch.delenv("SNEAKY_KEY", raising=False)
        applied = load_env_file()
        try:
            assert applied == {}
            assert "SNEAKY_KEY" not in os.environ
        finally:
            os.environ.pop("SNEAKY_KEY", None)

    def test_env_walk_does_not_climb_into_home(self, monkeypatch, tmp_path):
        """~/.env loads only when launched FROM ~, never discovered by
        climbing into it from an unmarked subtree."""
        import os

        from ai_duckdb_spark.nl2sql import load_env_file

        monkeypatch.setenv("HOME", str(tmp_path))
        (tmp_path / ".env").write_text("HOME_ENV_KEY=fromhome\n")
        sub = tmp_path / "plain" / "subdir"  # no marker anywhere
        sub.mkdir(parents=True)
        monkeypatch.delenv("HOME_ENV_KEY", raising=False)
        monkeypatch.chdir(sub)
        applied_from_sub = load_env_file()
        monkeypatch.chdir(tmp_path)
        applied_from_home = load_env_file()
        try:
            assert applied_from_sub == {}
            assert applied_from_home == {"HOME_ENV_KEY": "fromhome"}
        finally:
            os.environ.pop("HOME_ENV_KEY", None)

    def test_env_fallback_parser_strips_inline_comments(self, monkeypatch, tmp_path):
        """python-dotenv parity in the no-dotenv fallback parser (r12
        ADVICE): an UNQUOTED value ends at the first whitespace-#
        inline comment; quoted values keep their '#'; '#' embedded
        without whitespace is part of the value."""
        import os
        import sys

        from ai_duckdb_spark.nl2sql import load_env_file

        env = tmp_path / ".env"
        env.write_text(
            "PLAIN=value # trailing comment\n"
            "QUOTED='keep # this'\n"
            "EMBEDDED=a#b\n"
        )
        for k in ("PLAIN", "QUOTED", "EMBEDDED"):
            monkeypatch.delenv(k, raising=False)
        monkeypatch.setitem(sys.modules, "dotenv", None)  # force fallback
        applied = load_env_file(str(env))
        try:
            assert applied["PLAIN"] == "value"
            assert applied["QUOTED"] == "keep # this"
            assert applied["EMBEDDED"] == "a#b"
        finally:
            for k in applied:
                os.environ.pop(k, None)

    def test_openai_compat_picks_up_dotenv(self, monkeypatch, tmp_path):
        from ai_duckdb_spark.nl2sql import OpenAICompatSqlGenerator

        import os

        (tmp_path / ".env").write_text("OPENAI_BASE_URL=http://dotenv.local/v1\n")
        monkeypatch.chdir(tmp_path)
        monkeypatch.delenv("OPENAI_BASE_URL", raising=False)
        try:
            gen = OpenAICompatSqlGenerator(api_key="k", transport=lambda *a: {})
            assert gen.base_url == "http://dotenv.local/v1"
        finally:
            # delenv-on-missing registers no undo; see the leak note above
            os.environ.pop("OPENAI_BASE_URL", None)


# ---------------------------------------------------------------------------
# End-to-end engine flow (E1-E3 restated)
# ---------------------------------------------------------------------------
class TestEngine:
    def test_analyze_file_profile(self, spark, sales_csv):
        engine = AnalyticsEngine(spark)
        out = engine.analyze_file(sales_csv)
        info = out["data_info"]
        assert info["行数"] == len(SALES_ROWS)
        assert info["列数"] == len(SALES_COLS)
        assert info["列名"] == SALES_COLS
        assert len(info["前5行数据"]) == 5
        assert info["table_name"] == "data_table"  # the reference's contract

    def test_question_end_to_end_golden(self, spark, sales_csv):
        engine = AnalyticsEngine(spark)
        out = engine.analyze_data_with_ai(sales_csv, "sum of price by sales_rep")
        assert "error" not in out, out
        # golden: compute independently with pandas
        expected = _sales_pdf().groupby("sales_rep")["price"].sum().to_dict()
        got = {r["sales_rep"]: r["total_price"] for r in out["result"]["data"]}
        assert got == pytest.approx(expected)
        md = format_analysis_result(out)
        assert "数据分析结果" in md and "```sql" in md

    def test_unsafe_generator_blocked(self, spark, sales_csv):
        class EvilGen:
            def generate(self, *_args):
                return "DROP TABLE data_table"

        engine = AnalyticsEngine(spark, generator=EvilGen())
        out = engine.analyze_data_with_ai(sales_csv, "boom")
        assert "error" in out and "SELECT" in out["error"]
        # the data must still be there, in the file's own session
        session = engine.registry.activate("sales")
        assert session.table("data_table").count() == len(SALES_ROWS)

    def test_timestamp_answer_is_saved_and_served(self, spark, tmp_path):
        """An answer carrying timestamps must reach the chat history, not
        fail the request while the record is serialized."""
        pytest.importorskip("flask")
        from ai_duckdb_spark.webapp import create_app

        pdf = pd.DataFrame(
            {
                "ts": pd.date_range("2024-01-01", periods=6, freq="h"),
                "city": ["a", "b", "a", "b", "a", "b"],
                "amount": [1.5, 2.5, 3.5, 4.5, 5.5, 6.5],
            }
        )
        path = tmp_path / "dated.parquet"
        pdf.to_parquet(path, coerce_timestamps="us")  # Spark rejects nanosecond parquet
        app = create_app(upload_folder=str(tmp_path / "uploads"), db_path=str(tmp_path / "chat.db"))
        with app.test_client() as client:
            with open(path, "rb") as fh:
                resp = client.post(
                    "/api/upload",
                    data={"file": (fh, "dated.parquet")},
                    content_type="multipart/form-data",
                )
            assert resp.status_code == 200, resp.get_json()
            resp = client.post(
                "/api/ask_question",
                json={"question": "top 3 by amount", "file_id": resp.get_json()["file_id"]},
            )
            assert resp.status_code == 200, resp.get_json()
            history = client.get("/api/chat_history").get_json()["history"]
        assert [h["question"] for h in history] == ["top 3 by amount"]
        result = history[0]["result"]
        assert result["row_count"] == 3
        assert [r["amount"] for r in result["data"]] == [6.5, 5.5, 4.5]
        assert result["data"][0]["ts"] == "2024-01-01 05:00:00"

    def test_rejected_upload_leaves_no_file(self, spark, tmp_path):
        import io
        import os

        pytest.importorskip("flask")
        from ai_duckdb_spark.webapp import create_app

        uploads = tmp_path / "uploads"
        app = create_app(upload_folder=str(uploads), db_path=str(tmp_path / "chat.db"))
        before = sorted(os.listdir(uploads))
        with app.test_client() as client:
            resp = client.post(
                "/api/upload",
                data={"file": (io.BytesIO(b"a,b,c\n"), "header_only.csv")},
                content_type="multipart/form-data",
            )
        assert resp.status_code == 400 and resp.get_json() == {"error": ERR_EMPTY}
        assert sorted(os.listdir(uploads)) == before

    def test_profile_jobs_inherit_the_callers_job_group(self, spark, sales_csv, spark_jobs):
        """The count runs on a helper thread; its jobs must still carry the
        caller's job group, which cancellation and tracing key on. An
        unwrapped or session-less thread target warns, failing the test."""
        import warnings

        df, _ = load_data_from_file(spark, sales_csv)
        sc = spark.sparkContext
        spark_jobs.take()
        sc.setJobGroup("g", "profile under a job group")
        try:
            with warnings.catch_warnings():
                warnings.simplefilter("error")
                # py4j drops a finished thread's socket unclosed; not ours
                warnings.simplefilter("ignore", ResourceWarning)
                info = profile_dataframe(df)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs = spark_jobs.take()
        assert info["行数"] == len(SALES_ROWS) and len(info["前5行数据"]) == 5
        assert len(jobs) >= 2 and set(jobs) <= set(sc.statusTracker().getJobIdsForGroup("g"))

    def test_profile_matches_spark_dtypes(self, spark, sales_csv):
        df, _ = load_data_from_file(spark, sales_csv)
        info = profile_dataframe(df)
        assert info["数据类型"]["price"] == "double"
        assert info["数据类型"]["sales_rep"] == "string"


class TestInMemoryCopy:
    """A file no larger than ``COPY_MAX_BYTES`` is answered from one cached
    single-partition copy: the profile loads it in one job, an answer is
    one job with no shuffle, and a file id holds at most one copy. A
    file one byte over the cut takes the lazy scan and gets the same
    answers."""

    CITY_TOTALS = {"a": 9.0, "b": 12.0}

    @staticmethod
    def _write(path, rows=None) -> str:
        rows = rows or [("a", 1.0), ("b", 2.0), ("a", 3.0), ("b", 4.0), ("a", 5.0), ("b", 6.0)]
        pd.DataFrame(rows, columns=["city", "amount"]).to_parquet(path)
        return str(path)

    @staticmethod
    def _copies(spark) -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    @staticmethod
    def _cut(monkeypatch, path: str, over: bool) -> None:
        """Put the cut at the file's size, or one byte below it."""
        import ai_duckdb_spark.engine as engine_module

        monkeypatch.setattr(engine_module, "COPY_MAX_BYTES", os.path.getsize(path) - over)

    @pytest.mark.parametrize("over", [False, True], ids=["copy", "lazy"])
    def test_profile_jobs_and_row_count(self, spark, tmp_path, spark_jobs, monkeypatch, over):
        """On the copy the head loads it and the row count comes from its
        statistics; over the cut a count runs beside the head."""
        import ai_duckdb_spark.engine as engine_module

        ran = []

        def counted(df):
            spark_jobs.take()
            info = profile_dataframe(df)
            ran.extend(spark_jobs.take())
            return info

        monkeypatch.setattr(engine_module, "profile_dataframe", counted)
        rows = [(f"c{i % 7}", float(i)) for i in range(1000)]
        path = self._write(tmp_path / "t.parquet", rows)
        self._cut(monkeypatch, path, over)
        info = AnalyticsEngine(spark).analyze_file(path)["data_info"]
        assert info["行数"] == len(rows) and len(info["前5行数据"]) == 5
        assert len(ran) > 1 if over else len(ran) == 1

    @pytest.mark.parametrize("over, level", [(False, "MEMORY_ONLY"), (True, "NONE")], ids=["copy", "lazy"])
    def test_grouped_answer(self, spark, tmp_path, spark_jobs, monkeypatch, over, level):
        """The same answer either way; from the copy it is one job that
        writes no shuffle bytes."""
        from pyspark import StorageLevel

        path = self._write(tmp_path / "t.parquet")
        self._cut(monkeypatch, path, over)
        engine = AnalyticsEngine(spark)
        info = engine.analyze_file(path, file_id="t")["data_info"]
        assert engine.registry.activate("t").table("data_table").storageLevel == getattr(StorageLevel, level)
        spark_jobs.take()
        out = engine.analyze_data_with_ai(path, "total amount by city", data_info=info)
        jobs = spark_jobs.take()
        assert {r["city"]: r["total_amount"] for r in out["result"]["data"]} == self.CITY_TOTALS
        if not over:
            assert len(jobs) == 1 and spark_jobs.shuffle_write_bytes(jobs) == 0

    def test_answer_survives_losing_the_copy(self, spark, tmp_path):
        """An evicted copy, and then a cleared cache, are read again from
        the file through the copy's lineage."""
        path = self._write(tmp_path / "t.parquet")
        engine = AnalyticsEngine(spark)
        before = self._copies(spark)
        info = engine.analyze_file(path, file_id="t")["data_info"]
        (copy,) = self._copies(spark) - before

        def totals():
            out = engine.analyze_data_with_ai(path, "total amount by city", data_info=info)
            return {r["city"]: r["total_amount"] for r in out["result"]["data"]}

        # what the storage LRU does: drop the blocks, keep the cache entry
        spark._jvm.org.apache.spark.SparkEnv.get().blockManager().master().removeRdd(copy, True)
        assert totals() == self.CITY_TOTALS
        spark.catalog.clearCache()
        assert totals() == self.CITY_TOTALS

    def test_a_file_id_holds_one_copy(self, spark, tmp_path):
        """Re-analysis under the same file id releases the old copy, and a
        rewritten file is copied afresh, not served from a stale copy."""
        path = self._write(tmp_path / "t.parquet")
        other = self._write(tmp_path / "u.parquet", [("c", 1.0)])
        engine = AnalyticsEngine(spark)
        before = self._copies(spark)
        engine.analyze_file(path, file_id="x")
        engine.analyze_file(path, file_id="x")
        assert len(self._copies(spark) - before) == 1
        self._write(tmp_path / "t.parquet", [("d", 1.0), ("d", 2.0)])
        assert engine.analyze_file(path, file_id="x")["data_info"]["行数"] == 2
        assert len(self._copies(spark) - before) == 1
        engine.analyze_file(other, file_id="x")
        assert len(self._copies(spark) - before) == 1

    def test_empty_file_keeps_no_copy(self, spark, tmp_path):
        path = tmp_path / "header_only.csv"
        path.write_text("a,b,c\n")
        before = self._copies(spark)
        assert AnalyticsEngine(spark).analyze_file(str(path)) == {"error": ERR_EMPTY}
        assert self._copies(spark) - before == set()


class TestDriverSchema:
    """Parquet footers and small JSON files get their schema on the driver,
    from the code Spark's inference job runs in its task, so a load runs
    no job. That schema must be the one the reader infers."""

    # one JSON object per record; a file holds them as lines or as an array
    JSON_CASES = {
        "int_and_float": ['{"a": 1}', '{"a": 2.5}'],
        "int_and_string": ['{"a": 1}', '{"a": "x"}'],
        "nested_keys_differ": ['{"o": {"x": 1}}', '{"o": {"y": "s", "z": [1]}}'],
        "array_of_objects": ['{"v": [{"x": 1}, {"y": 2.5}]}', '{"v": []}'],
        "all_null_field": ['{"a": 1, "n": null}', '{"a": 2, "n": null}'],
        "backquoted_keys": ['{"a.b": 1, "c d": 2, "`e`": 3}'],
        "past_long": ['{"a": 1}', '{"a": 123456789012345678901234567890}', '{"b": 1' + "0" * 40 + "}"],
        "nan": ['{"a": NaN}', '{"a": 1.5}', '{"a": -Infinity}'],
        "single_quoted": ["{'a': 'x', 'b': 1}", '{"a": "y\'", "b": 2}'],
    }

    @staticmethod
    def _write_json(path, records, layout) -> str:
        if layout == "lines":
            path.write_text("\n".join(records) + "\n")
        else:
            path.write_text("[\n" + ",\n".join(records) + "\n]\n")
        return str(path)

    @staticmethod
    def _loaded_schema(spark, spark_jobs, path):
        """The loaded frame's schema, asserting the load ran no job."""
        spark_jobs.take()
        df, err = load_data_from_file(spark, path)
        assert err is None and spark_jobs.take() == []
        return df.schema

    @pytest.mark.parametrize("layout", ["lines", "array"])
    @pytest.mark.parametrize("case", list(JSON_CASES))
    def test_json_schema_is_the_readers(self, spark, tmp_path, spark_jobs, case, layout):
        path = self._write_json(tmp_path / "t.json", self.JSON_CASES[case], layout)
        reader = spark.read.option("mode", "FAILFAST").option("multiLine", layout == "array")
        assert self._loaded_schema(spark, spark_jobs, path) == reader.json(path).schema

    @staticmethod
    def _parquet(spark, tmp_path, case) -> str:
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = tmp_path / f"{case}.parquet"
        if case == "pandas":  # pandas metadata in the footer, a categorical
            pd.DataFrame(
                {"a": [1, 2], "c": pd.Categorical(["u", "v"]), "f": [1.5, None]}
            ).to_parquet(path)
        elif case == "unsigned":
            pq.write_table(
                pa.table({"u8": pa.array([1, 2], pa.uint8()), "u64": pa.array([1, 2**63 + 5], pa.uint64())}),
                path,
            )
        elif case == "required":
            field = pa.field("r", pa.int32(), nullable=False)
            pq.write_table(pa.table({"r": pa.array([1, 2], pa.int32())}, schema=pa.schema([field])), path)
        else:  # Spark-written: Spark's own schema in the footer
            out = str(tmp_path / "spark_out")
            spark.sql(
                "SELECT CAST(1.25 AS DECIMAL(10, 2)) d, TIMESTAMP'2024-01-01 10:00:00' t,"
                " TIMESTAMP_NTZ'2024-01-01 10:00:00' tn, DATE'2024-01-01' dt,"
                " named_struct('x', 1, 'y', 's') st, array(1, 2) ar, map('k', 1) m,"
                " CAST('ab' AS VARCHAR(10)) v"
            ).coalesce(1).write.parquet(out)
            (part,) = [f for f in os.listdir(out) if f.endswith(".parquet")]
            os.rename(os.path.join(out, part), path)
        return str(path)

    @pytest.mark.parametrize("case", ["pandas", "spark", "unsigned", "required"])
    def test_parquet_schema_is_the_readers(self, spark, tmp_path, spark_jobs, case):
        path = self._parquet(spark, tmp_path, case)
        assert self._loaded_schema(spark, spark_jobs, path) == spark.read.parquet(path).schema

    @pytest.mark.parametrize("over", [False, True], ids=["under", "over"])
    @pytest.mark.parametrize("layout", ["lines", "array"])
    def test_json_load_jobs_at_the_cut(self, spark, tmp_path, spark_jobs, monkeypatch, layout, over):
        """Up to the copy cut the JSON schema is inferred on the driver;
        one byte over it the reader infers it, in one job."""
        path = self._write_json(tmp_path / "t.json", ['{"a": 1, "b": "x"}', '{"a": 2.5}'], layout)
        TestInMemoryCopy._cut(monkeypatch, path, over)
        spark_jobs.take()
        df, err = load_data_from_file(spark, path)
        assert err is None and df.columns == ["a", "b"]
        assert len(spark_jobs.take()) == over

    @pytest.mark.parametrize("fmt, jobs", [("parquet", 1), ("lines", 1), ("array", 1), ("csv", 3)])
    def test_analyze_file_jobs(self, spark, tmp_path, spark_jobs, fmt, jobs):
        """A small upload runs the profile's one job, which builds its copy;
        CSV also runs the reader's two (the header, then the inference
        pass), which have no driver-side equivalent."""
        pdf = _sales_pdf()
        if fmt == "parquet":
            path = str(tmp_path / "t.parquet")
            pdf.to_parquet(path)
        elif fmt == "csv":
            path = str(tmp_path / "t.csv")
            pdf.to_csv(path, index=False)
        else:
            records = [json.dumps(r) for r in pdf.to_dict("records")]
            path = self._write_json(tmp_path / "t.json", records, fmt)
        spark_jobs.take()
        info = AnalyticsEngine(spark).analyze_file(path)["data_info"]
        assert info["行数"] == len(SALES_ROWS) and len(spark_jobs.take()) == jobs

    def test_upload_formats_agree_under_and_over_the_cut(self, spark, tmp_path, monkeypatch):
        """Through the web app, each of the five upload formats gives the
        same profile and answers whether it is copied with a driver-side
        schema or scanned lazily with the reader's."""
        pytest.importorskip("flask")
        import ai_duckdb_spark.engine as engine_module
        from ai_duckdb_spark.webapp import create_app

        pdf = _sales_pdf()
        records = pdf.to_dict("records")
        writers = {
            "t.parquet": lambda p: pdf.to_parquet(p),
            "t.csv": lambda p: pdf.to_csv(p, index=False),
            "lines.json": lambda p: p.write_text("\n".join(json.dumps(r) for r in records)),
            "array.json": lambda p: p.write_text(json.dumps(records, indent=1)),
            "columns.json": lambda p: p.write_text(json.dumps(pdf.to_dict("list"), indent=1)),
        }
        questions = ["total price by category", "average quantity by sales_rep", "top 3 by price", "price > 50"]

        def ask_all(cut: int) -> dict:
            monkeypatch.setattr(engine_module, "COPY_MAX_BYTES", cut)
            app = create_app(upload_folder=str(tmp_path / f"up{cut}"), db_path=str(tmp_path / f"chat{cut}.db"))
            seen = {}
            with app.test_client() as client:
                for name, write in writers.items():
                    path = tmp_path / name
                    write(path)
                    with open(path, "rb") as fh:
                        up = client.post(
                            "/api/upload", data={"file": (fh, path.name)}, content_type="multipart/form-data"
                        ).get_json()
                    info = {k: v for k, v in up["data_info"].items() if k != "file_id"}
                    for q in questions:
                        resp = client.post("/api/ask_question", json={"question": q, "file_id": up["file_id"]})
                        assert resp.status_code == 200, resp.get_json()
                    history = client.get("/api/chat_history").get_json()["history"]
                    seen[name] = (info, [h["result"] for h in history if h["filename"] == name])
            return seen

        under, over = ask_all(1 << 30), ask_all(0)
        assert over == under
        assert all(len(answers) == len(questions) for _, answers in under.values())


class TestFileIsolation:
    """Each uploaded file is ``data_table`` in its own child session, so a
    question reads its own file whatever other uploads and questions run
    meanwhile."""

    @staticmethod
    def _write(path, city: str, amounts: list[float]) -> str:
        pd.DataFrame({"city": [city] * len(amounts), "amount": amounts}).to_parquet(path)
        return str(path)

    def test_upload_during_a_question_does_not_redirect_it(self, spark, tmp_path):
        a = self._write(tmp_path / "a.parquet", "a", [1.0, 2.0, 3.0])
        b = self._write(tmp_path / "b.parquet", "b", [10.0, 20.0])

        class UploadsBMidQuestion:
            def generate(self, *_args):
                assert "error" not in engine.analyze_file(b, file_id="b")
                return "SELECT SUM(amount) AS total FROM data_table"

        engine = AnalyticsEngine(spark, generator=UploadsBMidQuestion())
        info = engine.analyze_file(a, file_id="a")["data_info"]
        out = engine.analyze_data_with_ai(a, "total", data_info=info)
        assert out["result"]["data"] == [{"total": 6.0}]
        assert not spark.catalog.tableExists("data_table")  # no global alias
        # child sessions take their conf from SparkConf, not the root's runtime conf
        conf = engine.registry.activate("a").conf
        assert conf.get("spark.sql.ansi.enabled") == "true"
        assert conf.get("spark.sql.session.timeZone") == "UTC"

    def test_concurrent_clients_read_their_own_files(self, spark, tmp_path):
        """Four clients upload same-schema files with different rows, then
        ask at once; every answer must come from the asker's own file."""
        import threading

        pytest.importorskip("flask")
        from ai_duckdb_spark.webapp import create_app

        clients, asks = 4, 4
        app = create_app(upload_folder=str(tmp_path / "uploads"), db_path=str(tmp_path / "chat.db"))
        barrier = threading.Barrier(clients)
        answers: dict[int, list] = {}
        errors: list[BaseException] = []

        def client(i: int) -> None:
            try:
                name = f"city{i}.parquet"
                path = self._write(tmp_path / name, f"c{i}", [float(i + 1)] * (i + 1))
                http = app.test_client()
                with open(path, "rb") as fh:
                    resp = http.post("/api/upload", data={"file": (fh, name)},
                                     content_type="multipart/form-data")
                file_id = resp.get_json()["file_id"]
                barrier.wait(timeout=60)
                for _ in range(asks):
                    http.post("/api/ask_question",
                              json={"question": "total amount by city", "file_id": file_id})
                history = http.get("/api/chat_history").get_json()["history"]
                answers[i] = [h["result"].get("data") for h in history]
            except BaseException as exc:  # noqa: BLE001 - re-raised below
                errors.append(exc)
                barrier.abort()

        threads = [threading.Thread(target=client, args=(i,)) for i in range(clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors, errors
        assert sorted(answers) == list(range(clients))
        assert all(len(got) == asks for got in answers.values())
        wrong = [
            (i, got) for i, per_client in answers.items() for got in per_client
            if got != [{"city": f"c{i}", "total_amount": float((i + 1) ** 2)}]
        ]
        assert wrong == []


class TestAnsiMode:
    def test_bad_cast_errors_like_duckdb(self, spark):
        """With spark.sql.ansi.enabled (SURVEY §7 risk 1), an invalid
        cast raises — matching the DuckDB dialect the NL→SQL surface is
        verified against — instead of silently returning NULL."""
        import duckdb

        with pytest.raises(Exception, match="CAST|cast"):
            spark.sql("SELECT CAST('not a number' AS INT) AS x").collect()
        with pytest.raises(Exception):
            duckdb.connect().sql("SELECT CAST('not a number' AS INT) AS x").fetchall()

    def test_try_cast_remains_available(self, spark):
        """The permissive escape hatch stays: try_cast gives NULL, both
        engines agree."""
        import duckdb

        got = spark.sql("SELECT try_cast('nope' AS INT) AS x").collect()[0]["x"]
        con = duckdb.connect()
        want = con.execute("SELECT try_cast('nope' AS INT) AS x").fetchone()[0]
        con.close()
        assert got is None and want is None


class TestSqlConfs:
    def test_builder_and_pinned_sessions_agree_with_the_table(self, spark):
        """session.SQL_CONFS is written once into the SparkConf (which
        newSession() children read) and re-pinned at runtime on a session
        whose conf drifted."""
        from ai_duckdb_spark.session import SQL_CONFS, pin_session_defaults

        child = spark.newSession()
        assert {key: child.conf.get(key) for key in SQL_CONFS} == SQL_CONFS

        drifted = spark.newSession()
        other = {"true": "false", "UTC": "America/New_York"}
        for key, value in SQL_CONFS.items():
            drifted.conf.set(key, other.get(value, ""))
        pin_session_defaults(drifted)
        assert {key: drifted.conf.get(key) for key in SQL_CONFS} == SQL_CONFS
