"""Multi-format file ingestion (SURVEY.md §2.1, reference doc.py:16-83).

Behavior contract mirrored from the reference loader:

  * suffix gate: only .parquet/.csv/.xlsx/.xls/.json (doc.py:30-32);
  * JSON loads through a 3-tier fallback with the reference's exact
    precedence (doc.py:50-76): JSON-Lines → JSON array → manual
    ``json.loads`` with list / dict-of-lists / scalar-dict shapes;
  * missing file, unsupported type, a frame with no columns, and load
    failures return ``(None, <error string>)`` with the reference's error
    messages (doc.py:26-32, 78-79, 82-83);
  * success returns ``(DataFrame, None)``. A frame with columns but no
    rows is a success here: the loader runs no Spark job to find out.
    ``AnalyticsEngine.analyze_file`` rejects it with ``ERR_EMPTY`` from
    the profile's row count, which it computes anyway.

JSON tier 1 (the JSON-Lines read) is skipped when the file's first
non-blank line is exactly ``[`` or ``{``: such a pretty-printed document
is a malformed record to the FAILFAST reader, so the read could only end
in a failed Spark job. Every other file, a BOM-prefixed one included,
tries tier 1 first as the reference does.

Spark-first realization: parquet/CSV/JSON tiers 1-2 are native
``spark.read`` scans — distributed, pushdown-capable, no driver
materialization, so the same code path scales from the reference's 16 MB
upload cap (reference app.py:20) to cluster-sized inputs. Excel and JSON
tier 3 have no distributed reader; they go pandas/``json.loads`` →
``createDataFrame`` on the driver, which is sound at the upload cap and
isolated behind this interface (swap in a distributed Excel source
without touching callers).
"""

from __future__ import annotations

import json
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

ALLOWED_SUFFIXES = (".parquet", ".csv", ".xlsx", ".xls", ".json")

ERR_NOT_FOUND = "文件不存在"
ERR_BAD_TYPE = "文件类型不支持数据分析，仅支持 parquet、csv、xlsx、xls、json 文件"
ERR_EMPTY = "无法读取文件数据或文件为空"
ERR_BAD_JSON = "不支持的JSON格式"


def _from_pandas(spark: SparkSession, pdf: pd.DataFrame) -> DataFrame:
    """Driver-side frame → Spark, with the reference's permissiveness.

    Mixed-type object columns (possible from JSON tier 3, doc.py:65-76)
    crash Arrow conversion; retry with string coercion to mirror pandas'
    tolerance (SURVEY.md §7 risk 4).
    """
    try:
        return spark.createDataFrame(pdf)
    except Exception:
        return spark.createDataFrame(pdf.astype(str))


def _first_line(file_path: str) -> str:
    """The file's first non-blank line, stripped; "" if none is readable."""
    try:
        with open(file_path, encoding="utf-8") as f:
            return next((line for line in map(str.strip, f) if line), "")
    except (OSError, UnicodeDecodeError):
        return ""


def _load_json(spark: SparkSession, file_path: str) -> DataFrame:
    """Three-tier JSON fallback, exact reference precedence (doc.py:50-76)."""
    first_line = _first_line(file_path)
    # tier 1: JSON Lines (one object per line), unless the first line
    # opens a pretty-printed document the FAILFAST read can only fail on
    if first_line not in ("[", "{"):
        try:
            df = spark.read.option("mode", "FAILFAST").json(file_path)
            if df.columns:
                return df
        except Exception:
            pass
    # tier 2: a single JSON array document. Gated to top-level arrays:
    # Spark's multiLine reader would parse a dict-of-lists as ONE row of
    # array columns, while the reference's pandas tier yields columns —
    # dict shapes must fall through to tier 3's reference rules.
    try:
        if first_line.startswith("["):
            df = spark.read.option("mode", "FAILFAST").option("multiLine", True).json(file_path)
            if df.columns:
                return df
    except Exception:
        pass
    # tier 3: manual parse with the reference's shape rules
    with open(file_path, encoding="utf-8") as f:
        json_data = json.load(f)
    if isinstance(json_data, list):
        return _from_pandas(spark, pd.DataFrame(json_data))
    if isinstance(json_data, dict):
        if all(isinstance(v, list) for v in json_data.values()):
            return _from_pandas(spark, pd.DataFrame(json_data))  # columns
        return _from_pandas(spark, pd.DataFrame([json_data]))  # single row
    raise ValueError(ERR_BAD_JSON)


_XLSX_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"


def _xlsx_cell_col(ref: str) -> int:
    """'BC12' -> 0-based column index 54."""
    col = 0
    for ch in ref:
        if not ch.isalpha():
            break
        col = col * 26 + (ord(ch.upper()) - ord("A") + 1)
    return col - 1


def _read_xlsx_stdlib(file_path: str) -> pd.DataFrame:
    """Minimal .xlsx reader on the stdlib only (zipfile + ElementTree).

    xlsx is a zip of SpreadsheetML XML; for the tabular
    first-row-is-header files the upload surface accepts, the needed
    subset is: the first worksheet's <row>/<c> cells, the shared-string
    table, and the cell types s/str/b/inlineStr/numeric. Used only when
    openpyxl is absent (this container) — pandas' reader takes priority
    because it covers the long tail (dates, merged cells, multi-sheet).
    """
    import zipfile
    import xml.etree.ElementTree as ET

    with zipfile.ZipFile(file_path) as zf:
        names = set(zf.namelist())
        shared: list[str] = []
        if "xl/sharedStrings.xml" in names:
            root = ET.fromstring(zf.read("xl/sharedStrings.xml"))
            for si in root.iter(f"{_XLSX_NS}si"):
                shared.append("".join(t.text or "" for t in si.iter(f"{_XLSX_NS}t")))
        sheet_name = next(
            (n for n in ("xl/worksheets/sheet1.xml",) if n in names),
            next((n for n in sorted(names) if n.startswith("xl/worksheets/")), None),
        )
        if sheet_name is None:
            raise ValueError("xlsx has no worksheets")
        root = ET.fromstring(zf.read(sheet_name))

    rows: list[dict[int, object]] = []
    for row_el in root.iter(f"{_XLSX_NS}row"):
        cells: dict[int, object] = {}
        next_idx = 0  # ECMA-376 sequential placement when r is omitted
        for c in row_el.iter(f"{_XLSX_NS}c"):
            ref = c.get("r")
            idx = _xlsx_cell_col(ref) if ref else next_idx
            next_idx = idx + 1
            ctype = c.get("t", "n")
            if ctype == "inlineStr":
                value: object = "".join(t.text or "" for t in c.iter(f"{_XLSX_NS}t"))
            else:
                v = c.find(f"{_XLSX_NS}v")
                if v is None or v.text is None:
                    continue
                if ctype == "s":
                    value = shared[int(v.text)]
                elif ctype == "str":
                    value = v.text
                elif ctype == "b":
                    value = v.text == "1"
                else:  # numeric
                    num = float(v.text)
                    value = int(num) if num.is_integer() else num
            cells[idx] = value
        rows.append(cells)

    if not rows:
        return pd.DataFrame()
    width = max(max(r) + 1 for r in rows if r)
    # One corrupt/hostile cell ref ("ZZZZZZ1" -> 26^6 columns) would make
    # the dense materialization below allocate width x n_rows cells.
    # XLSX's own column limit is 16384 (XFD), and the upload contract is
    # a dense table — a grid vastly larger than the cell count is
    # corruption, not data (same guard as the BIFF8 reader).
    n_cells = sum(len(r) for r in rows)
    if width > 16384 or len(rows) * width > max(65536, 64 * n_cells):
        raise ValueError("xlsx cell grid implausibly sparse — corrupt sheet")
    header = [rows[0].get(i, f"col{i}") for i in range(width)]
    data = [[r.get(i) for i in range(width)] for r in rows[1:]]
    return pd.DataFrame(data, columns=[str(h) for h in header])


def _load_excel(spark: SparkSession, file_path: str, suffix: str) -> DataFrame:
    """Excel via pandas (engine split per reference doc.py:47-49), with
    stdlib fallbacks when the engine package is absent: SpreadsheetML
    (zipfile + ElementTree) for .xlsx, BIFF8/CFB (sources/xls.py) for
    .xls. The 16 MB upload cap keeps the driver-side read sound.
    """
    engine = "openpyxl" if suffix == ".xlsx" else "xlrd"
    try:
        pdf = pd.read_excel(file_path, engine=engine)
    except ImportError:
        if suffix == ".xlsx":
            pdf = _read_xlsx_stdlib(file_path)
        else:
            from .xls import read_xls_stdlib

            pdf = read_xls_stdlib(file_path)
    return _from_pandas(spark, pdf)


def load_data_from_file(
    spark: SparkSession, file_path: str
) -> tuple[DataFrame | None, str | None]:
    """Load any supported file into a Spark DataFrame.

    Returns (df, None) on success, (None, error-message) on failure —
    the reference's tuple contract (doc.py:16-83).
    """
    if not os.path.exists(file_path):
        return None, ERR_NOT_FOUND

    suffix = os.path.splitext(file_path)[1].lower()
    if suffix not in ALLOWED_SUFFIXES:
        return None, ERR_BAD_TYPE

    try:
        if suffix == ".parquet":
            df = spark.read.parquet(file_path)
        elif suffix == ".csv":
            df = spark.read.csv(file_path, header=True, inferSchema=True)
        elif suffix in (".xlsx", ".xls"):
            df = _load_excel(spark, file_path, suffix)
        else:  # .json
            df = _load_json(spark, file_path)

        if df is None or not df.columns:
            return None, ERR_EMPTY
        return df, None
    except ValueError as e:
        if str(e) == ERR_BAD_JSON:
            return None, f"文件加载失败: {ERR_BAD_JSON}"
        return None, f"文件加载失败: {e}"
    except Exception as e:  # mirror doc.py:82-83
        return None, f"文件加载失败: {e}"
