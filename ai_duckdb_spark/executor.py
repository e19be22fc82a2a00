"""SQL sanitation, safety gate, and capped execution (SURVEY.md §2.9
X4/X5, §2.2 K2).

The reference CLAIMS SELECT-only safety (reference README.md:13 "自动过滤
危险 SQL 操作"; WEB_APP_README.md:126 "仅支持SELECT操作") but its only
mechanism is a prompt rule (doc.py:187) — any DML/DDL the LLM emitted
would execute at doc.py:242. Here the gate is real, and two-layered:

  1. first-token allowlist (SELECT / WITH / VALUES);
  2. Catalyst parse: the statement is parsed WITHOUT execution and the
     logical plan's node class is checked against a write/command
     blacklist. This matters because ``spark.sql("DROP TABLE t")``
     executes eagerly — the gate must run before spark.sql.

Result shaping follows the reference contract (doc.py:251-260):
``{"columns", "data": row-dicts, "row_count"}`` — with a collect cap
(the reference fetches unbounded result sets, doc.py:242; display
truncates at 10 rows anyway, app.py:81-82, so capping the transfer is
pure win at scale). ``row_count`` stays the FULL count: one query
collects ``row_cap + 1`` rows and ``row_count`` is the number collected,
unless that overflows the cap — only a truncated result pays a second
query, a ``count()``.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

DEFAULT_ROW_CAP = 10_000

_ALLOWED_FIRST_TOKENS = {"select", "with", "values"}

_FORBIDDEN_PLAN_RE = re.compile(
    r"(Command|Insert|Create|Drop|Delete|Update|Merge|Alter|Truncate|"
    r"RefreshTable|CacheTable|Uncache|SetNamespace|Use|AddArchives|"
    r"AddFiles|AddJars|ResetCommand|Write)",
    re.IGNORECASE,
)


class UnsafeSqlError(ValueError):
    """Raised when a statement is not a read-only query."""


def clean_sql_response(sql: str) -> str:
    """Strip LLM markdown fences — exact reference semantics (doc.py:217-223)."""
    sql = sql.strip()
    if sql.startswith("```sql"):
        sql = sql[6:]
    if sql.endswith("```"):
        sql = sql[:-3]
    return sql.strip()


# Fallback lexical blacklist, used ONLY when the Catalyst parser is
# unreachable (Spark Connect, JVM accessor drift): word-boundary match on
# write/DDL verbs anywhere in the statement. Coarser than the plan check
# (a literal string 'insert' would false-positive) but fails CLOSED.
_FALLBACK_WRITE_RE = re.compile(
    r"\b(insert|delete|update|merge|drop|create|alter|truncate|grant|revoke|"
    r"refresh|cache|uncache|analyze|msck|load\s+data|set|reset|use)\b",
    re.IGNORECASE,
)

# Quoted regions never carry statement verbs: single-quoted string
# literals ('' = escaped quote), backquoted identifiers (`` = escaped),
# and double-quoted identifiers. Blanking them before the lexical scan
# removes the main false-positive class (WHERE note = 'for home use',
# a column named `update`) while staying fail-closed on real verbs.
_QUOTED_REGION_RE = re.compile(r"'(?:[^']|'')*'|`(?:[^`]|``)*`|\"(?:[^\"]|\"\")*\"")


def _strip_quoted(stmt: str) -> str:
    return _QUOTED_REGION_RE.sub(" ", stmt)


def ensure_select_only(spark: SparkSession, sql: str) -> None:
    """Reject anything that is not a read-only query (X5, enforced).

    Raises UnsafeSqlError. Malformed SQL is NOT raised here — it should
    surface as a normal execution error with the engine's own message.
    The layer-2 plan check fails CLOSED: if the parser machinery itself
    is unavailable (Spark Connect, private-API drift), a lexical
    write-verb blacklist takes over instead of silently skipping the
    check (a first-token-legal statement like
    ``WITH t AS (SELECT 1) INSERT INTO ...`` must still be rejected).
    """
    stripped = sql.strip().rstrip(";").strip()
    if ";" in stripped:
        raise UnsafeSqlError("仅支持单条 SELECT 查询")
    first = stripped.split(None, 1)[0].lower() if stripped else ""
    if first not in _ALLOWED_FIRST_TOKENS:
        raise UnsafeSqlError(f"仅支持SELECT操作，拒绝执行: {first.upper() or '(empty)'}")

    try:
        parser = spark._jsparkSession.sessionState().sqlParser()  # noqa: SLF001
    except Exception:
        parser = None  # gate machinery unavailable → lexical fallback below

    if parser is None:
        if _FALLBACK_WRITE_RE.search(_strip_quoted(stripped)):
            raise UnsafeSqlError("仅支持SELECT操作 (parser unavailable; lexical gate)")
        return

    try:
        plan = parser.parsePlan(stripped)
        # Root class alone is not enough: `WITH t AS (...) INSERT INTO ...`
        # parses to an UnresolvedWith ROOT with the InsertIntoStatement
        # nested below, so scan every node name in the tree. treeString
        # lines start with tree-art then the node class name; taking the
        # first identifier avoids false positives on column/table names.
        node_names = [
            re.match(r"[\s:+\-'*]*([A-Za-z][A-Za-z0-9_]*)", line).group(1)
            for line in plan.treeString().splitlines()
            if re.match(r"[\s:+\-'*]*[A-Za-z]", line)
        ]
    except Exception as exc:
        # Only a genuine parse error may pass through (spark.sql will
        # report it); any other failure of the gate machinery fails closed.
        if "ParseException" in str(type(exc)) or "ParseException" in str(exc):
            return
        if _FALLBACK_WRITE_RE.search(_strip_quoted(stripped)):
            raise UnsafeSqlError("仅支持SELECT操作 (plan check failed; lexical gate)") from exc
        return
    for name in node_names:
        if _FORBIDDEN_PLAN_RE.search(name):
            raise UnsafeSqlError(f"仅支持SELECT操作，拒绝执行计划: {name}")


def execute_sql(
    spark: SparkSession, sql: str, row_cap: int = DEFAULT_ROW_CAP
) -> dict:
    """Gate → execute → shape records (reference result contract)."""
    cleaned = clean_sql_response(sql)
    if not cleaned:
        raise UnsafeSqlError("SQL查询生成失败")
    ensure_select_only(spark, cleaned)

    df: DataFrame = spark.sql(cleaned)
    rows = df.limit(row_cap + 1).collect()
    truncated = len(rows) > row_cap
    return {
        "columns": list(df.columns),
        "data": [r.asDict() for r in rows[:row_cap]],
        "row_count": df.count() if truncated else len(rows),
        "truncated": truncated,
    }
