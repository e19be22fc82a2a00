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

Schemas: a reader left to infer its schema runs a Spark job for it
before any scan. Where Spark's own inference code can run on the driver,
the loader runs it there and gives the reader the result
(``spark.read.schema``), so the load runs no job:

  * parquet, any size: the footer, converted by
    ``ParquetFileFormat.readSchemaFromFooter``, the function the
    inference job's task calls (``parquet_footer_schema``);
  * JSON tiers 1-2, for a file no larger than ``engine.COPY_MAX_BYTES``
    (the file is read once, whole, on the driver): ``schema_of_json``,
    which exists to match the JSON datasource's inference, over the
    file's records as one array. Tier 1 takes it only when every
    non-blank line is exactly one object.

Anything else, and any failure on the way, is left to the reader's
inference, which succeeds, fails or falls through to the next tier as
it did without this. Load jobs per format: parquet 0; JSON-Lines and a
JSON array 0 up to the cut, 1 above it; JSON tier 3 and Excel 0; CSV 2,
the header and then the inference pass. CSV keeps them because Spark's
only driver-side CSV inference, ``schema_of_csv``, reads one record, and
a parser of our own could infer other types than the reader does.
"""

from __future__ import annotations

import json
import os
import re
from io import StringIO

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType, _parse_datatype_json_string

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


def parquet_footer_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark's parquet inference gives the file at ``path``,
    read on the driver: the footer read and ``readSchemaFromFooter`` that
    the inference job runs in its task, with a converter built from the
    session's conf (so ``nanosAsLong`` and the TIMESTAMP_NTZ inference
    conf apply). Raises what that task would raise, e.g. the converter's
    PARQUET_TYPE_ILLEGAL for TIMESTAMP(NANOS)."""
    jvm, state = spark._jvm, spark._jsparkSession.sessionState()
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    footer = jvm.org.apache.parquet.hadoop.Footer(
        hpath, jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(state.newHadoopConf(), hpath)
    )
    schema = parquet.ParquetFileFormat.readSchemaFromFooter(
        footer, parquet.ParquetToSparkSchemaConverter(state.conf())
    )
    return _parse_datatype_json_string(schema.json())


def _json_records_schema(spark: SparkSession, doc: str) -> StructType | None:
    """The record schema of ``doc``, a JSON array of objects, from
    ``schema_of_json``: the JSON datasource's own inference, evaluated
    while the query is analyzed, so no job runs. None when ``doc`` does
    not parse or is not an array of records with at least one field."""
    try:
        (field,) = spark.range(0).select(F.from_json(F.lit("[]"), F.schema_of_json(F.lit(doc)))).schema
    except Exception:  # any failure leaves the schema to the reader
        return None
    record = field.dataType.elementType if isinstance(field.dataType, ArrayType) else None
    return record if isinstance(record, StructType) and record.fields else None


# A JSON string as Jackson reads one: Spark allows single quotes too.
_JSON_STRING = re.compile(r""""[^"\\\n]*(?:\\.[^"\\\n]*)*"|'[^'\\\n]*(?:\\.[^'\\\n]*)*'""")
# The nesting step of each byte outside strings.
_BRACKET_STEP = np.zeros(256, np.int8)
_BRACKET_STEP[[ord("{"), ord("[")]] = 1
_BRACKET_STEP[[ord("}"), ord("]")]] = -1


def _one_object_per_line(lines: list[str]) -> bool:
    """True when each line, stripped and non-blank, is one bracketed group
    and nothing after it: with strings blanked out, its brackets close
    first at its last character. A quote left over is a string that does
    not end on its line, which Jackson would tokenize differently, so it
    returns False. Linear, so deep nesting costs no more than its bytes."""
    if not all(line.startswith("{") for line in lines):
        return False
    blanked = _JSON_STRING.sub("0", "\n".join(lines))
    if '"' in blanked or "'" in blanked:
        return False
    shape = np.frombuffer(blanked.encode(), np.uint8)
    closed = np.cumsum(_BRACKET_STEP[shape], dtype=np.int64) == 0
    newline = shape == ord("\n")
    return np.array_equal(closed, newline | np.append(newline[1:], True))


def _json_lines_schema(spark: SparkSession, text: str) -> StructType | None:
    """The schema the JSON-Lines reader infers for ``text``, or None.

    Taken only when every non-blank line is exactly one JSON object: the
    lines then join into one array whose records are the reader's rows.
    ``text`` was read with universal newlines, so a line ends at ``\\r\\n``,
    ``\\r`` or ``\\n``, as in Hadoop's line reader. A line holding a second
    value, part of a record, an array or anything before the object
    returns None, and the reader decides instead.
    """
    lines = [line for line in (raw.strip(" \t") for raw in text.split("\n")) if line]
    if not lines or not _one_object_per_line(lines):
        return None
    return _json_records_schema(spark, "[" + ",".join(lines) + "]")


def _read_small_text(file_path: str) -> str | None:
    """The whole file, if it is no larger than ``engine.COPY_MAX_BYTES``
    and decodes as UTF-8; None otherwise."""
    from ..engine import COPY_MAX_BYTES  # the engine imports this module

    try:
        if os.path.getsize(file_path) > COPY_MAX_BYTES:
            return None
        with open(file_path, encoding="utf-8") as f:
            return f.read()
    except (OSError, UnicodeDecodeError):
        return None


def _first_line(file_path: str, text: str | None) -> str:
    """The file's first non-blank line, stripped; "" if none is readable.
    ``text`` is the whole file, when it was read already."""
    try:
        with open(file_path, encoding="utf-8") if text is None else StringIO(text) as f:
            return next((line for line in map(str.strip, f) if line), "")
    except (OSError, UnicodeDecodeError):
        return ""


def _read_json(spark: SparkSession, file_path: str, schema: StructType | None, **options) -> DataFrame:
    """The FAILFAST JSON reader, given ``schema`` when the driver has one."""
    reader = spark.read.option("mode", "FAILFAST").options(**options)
    return (reader.schema(schema) if schema is not None else reader).json(file_path)


def _load_json(spark: SparkSession, file_path: str) -> DataFrame:
    """Three-tier JSON fallback, exact reference precedence (doc.py:50-76)."""
    text = _read_small_text(file_path)
    first_line = _first_line(file_path, text)
    # tier 1: JSON Lines (one object per line), unless the first line
    # opens a pretty-printed document the FAILFAST read can only fail on
    if first_line not in ("[", "{"):
        try:
            schema = _json_lines_schema(spark, text) if text is not None else None
            df = _read_json(spark, file_path, schema)
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
            schema = _json_records_schema(spark, text) if text is not None else None
            df = _read_json(spark, file_path, schema, multiLine=True)
            if df.columns:
                return df
    except Exception:
        pass
    # tier 3: manual parse with the reference's shape rules
    if text is None:
        with open(file_path, encoding="utf-8") as f:
            text = f.read()
    json_data = json.loads(text)
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


def _load_parquet(spark: SparkSession, file_path: str) -> DataFrame:
    """Parquet with the footer schema read on the driver; if that fails,
    the reader infers it and fails, or not, as it would have."""
    try:
        return spark.read.schema(parquet_footer_schema(spark, file_path)).parquet(file_path)
    except Exception:
        return spark.read.parquet(file_path)


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
            df = _load_parquet(spark, file_path)
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
