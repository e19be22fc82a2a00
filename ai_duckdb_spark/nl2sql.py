"""NL→SQL generation (SURVEY.md §2.9 X3) — pluggable, offline-first.

The reference hardwires one Gemini call (reference doc.py:172-205). Here
the generator is an interface with two implementations:

  * ``StubSqlGenerator`` — deterministic, offline, rule-based. Covers the
    reference's documented example-question classes (top-N, group-sum,
    threshold filter, group-avg, temporal filter — WEB_APP_README.md:
    107-119) plus the prompt's rule-5 fallback (un-SQL-able question →
    ``SELECT *``, doc.py:188). Tests never touch the network.
  * ``GeminiSqlGenerator`` — the reference's online path, gated behind
    an import-try + GEMINI_API_KEY; absent in this environment.

The prompt mirrors the reference contract (doc.py:172-190) with one
dialect change: rule 3 requires Spark-SQL-compatible output instead of
DuckDB (SURVEY.md §2.9 X3). Safety is NOT delegated to prompt rule 4 —
executor.ensure_select_only enforces it for real.
"""

from __future__ import annotations

import os
import re
from typing import Protocol

import pandas as pd


def load_env_file(path: str | None = None) -> dict[str, str]:
    """Reference-parity ``.env`` loading (reference app.py:12
    ``load_dotenv()``): pick up GEMINI_API_KEY / OPENAI_* etc. from a
    dotenv file without overriding variables already set in the
    process environment.

    Uses python-dotenv when installed; otherwise a minimal parser with
    the same core semantics — ``KEY=VALUE`` lines, optional ``export ``
    prefix, ``#`` comments and blank lines ignored, matching single or
    double quotes stripped, existing env vars NEVER overridden. With no
    ``path``, searches ``.env`` upward from the current directory (the
    find_dotenv behavior the reference relies on when launched from a
    subdirectory), BOUNDED: the walk stops at the
    first directory that looks like a project root (contains ``.git``
    or ``pyproject.toml``) and never climbs past the user's home
    directory — an unbounded walk would let a stray ``.env`` in $HOME
    or / silently inject API keys into every launch from below it.
    Returns the variables newly applied.
    """
    if path is None:
        home = os.path.expanduser("~")
        start = os.getcwd()
        d = start
        while True:
            if d == home and d != start:
                # climbed INTO $HOME from below: a ~/.env is not this
                # project's config — only load it when launched from ~
                return {}
            cand = os.path.join(d, ".env")
            if os.path.isfile(cand):
                path = cand
                break
            at_marker = os.path.isdir(os.path.join(d, ".git")) or os.path.isfile(
                os.path.join(d, "pyproject.toml")
            )
            parent = os.path.dirname(d)
            if at_marker or parent == d:
                return {}
            d = parent
    if not os.path.isfile(path):
        return {}
    try:
        from dotenv import dotenv_values  # noqa: PLC0415

        parsed = {k: v for k, v in dotenv_values(path).items() if v is not None}
    except ImportError:
        parsed = {}
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line or line.startswith("#") or "=" not in line:
                    continue
                if line.startswith("export "):
                    line = line[len("export ") :]
                key, _, val = line.partition("=")
                key, val = key.strip(), val.strip()
                if len(val) >= 2 and val[0] == val[-1] and val[0] in "\"'":
                    val = val[1:-1]
                elif "#" in val:
                    # python-dotenv parity: an unquoted value ends at the
                    # first ' #' inline comment (quoted values keep '#')
                    val = re.split(r"\s+#", val, 1)[0].rstrip()
                if key:
                    parsed[key] = val
    applied = {k: v for k, v in parsed.items() if k not in os.environ}
    os.environ.update(applied)
    return applied


def build_prompt(file_name: str, data_info: dict, question: str) -> str:
    """Schema-grounded prompt, reference contract (doc.py:172-190)."""
    head_df = pd.DataFrame(data_info.get("前5行数据", []))
    system_context = f"""你是一个数据分析专家。用户上传了一个名为"{file_name}"的数据文件，包含以下信息：

数据概要：
- 行数：{data_info['行数']}
- 列数：{data_info['列数']}
- 列名：{', '.join(data_info['列名'])}
- 数据类型：{data_info['数据类型']}

前5行数据示例：
{head_df.to_string()}

请根据用户的问题生成相应的SQL查询语句。注意：
1. 表名固定为 'data_table'
2. 只返回SQL语句，不要包含其他解释
3. SQL语句必须是Spark SQL兼容的
4. 确保SQL语句是安全的，不包含删除、更新等操作
5. 如果问题不适合用SQL解决，请返回一个查询所有数据的SELECT语句"""
    return f"{system_context}\n\n用户问题：{question}"


class SqlGenerator(Protocol):
    def generate(self, file_name: str, data_info: dict, question: str) -> str:
        """Return a SQL string (may include markdown fences; executor strips)."""


class StubSqlGenerator:
    """Deterministic question→SQL rules over the profiled columns.

    Intentionally simple: resolves the measure/dimension columns from
    the profile (first numeric / first string column unless the question
    names one), recognizes the reference's documented question classes,
    and falls back to ``SELECT *`` (prompt rule 5).
    """

    _TOPN = re.compile(r"(?:top|前)\s*(\d+)", re.IGNORECASE)

    def generate(self, file_name: str, data_info: dict, question: str) -> str:
        cols = data_info["列名"]
        dtypes = data_info["数据类型"]
        numeric = [c for c in cols if any(t in dtypes[c] for t in ("int", "double", "float", "decimal", "bigint"))]
        strings = [c for c in cols if dtypes[c] in ("string", "object")]

        def named(pool):
            for c in pool:
                if c.lower() in question.lower():
                    return c
            return pool[0] if pool else None

        measure, dim = named(numeric), named(strings)
        q = question.lower()

        top = self._TOPN.search(q)
        if top and measure:
            return (
                f"SELECT * FROM data_table ORDER BY {measure} DESC LIMIT {int(top.group(1))}"
            )
        if any(k in q for k in ("sum", "total", "总", "合计")) and measure and dim:
            return (
                f"SELECT {dim}, SUM({measure}) AS total_{measure} FROM data_table"
                f" GROUP BY {dim} ORDER BY total_{measure} DESC"
            )
        if any(k in q for k in ("average", "avg", "平均")) and measure and dim:
            return (
                f"SELECT {dim}, AVG({measure}) AS avg_{measure} FROM data_table"
                f" GROUP BY {dim} ORDER BY avg_{measure} DESC"
            )
        if any(k in q for k in ("count", "数量", "多少")) and dim:
            return f"SELECT {dim}, COUNT(*) AS n FROM data_table GROUP BY {dim} ORDER BY n DESC"
        m = re.search(r"(\w+)\s*(>|<|>=|<=)\s*([0-9.]+)", question)
        if m and m.group(1) in cols:
            return f"SELECT * FROM data_table WHERE {m.group(1)} {m.group(2)} {m.group(3)}"
        # prompt rule 5: not SQL-shaped → project everything
        return "SELECT * FROM data_table"


class GeminiSqlGenerator:
    """The reference's online generator (doc.py:195-205), optional here."""

    def __init__(self, model: str = "gemini-2.5-flash"):
        self.model = model
        load_env_file()  # reference app.py:12 parity; never overrides
        self.api_key = os.environ.get("GEMINI_API_KEY")
        if not self.api_key:
            raise RuntimeError("GEMINI_API_KEY not set")
        try:
            from google import genai  # noqa: PLC0415
        except ImportError as e:
            raise RuntimeError(f"google-genai not installed: {e}") from e
        self._client = genai.Client(api_key=self.api_key)

    def generate(self, file_name: str, data_info: dict, question: str) -> str:
        prompt = build_prompt(file_name, data_info, question)
        response = self._client.models.generate_content(model=self.model, contents=prompt)
        return response.text or ""


class OpenAICompatSqlGenerator:
    """OpenAI-style chat-completions client over a configurable base URL.

    Mirrors the reference's raw-HTTP alternate path (call_ai.py:7-35:
    endpoint + key from env, requests.post, JSON body) but speaks the
    OpenAI wire contract, so any compatible server (vLLM, llama.cpp,
    LM Studio, a gateway) can serve NL→SQL. Offline tests inject
    ``transport``; no request leaves the process.

    Env: OPENAI_BASE_URL (e.g. http://localhost:8000/v1),
         OPENAI_API_KEY, OPENAI_MODEL (default gpt-4o-mini).
    """

    def __init__(
        self,
        base_url: str | None = None,
        api_key: str | None = None,
        model: str | None = None,
        transport=None,
        timeout: float = 60.0,
    ):
        load_env_file()  # reference app.py:12 parity; never overrides
        self.base_url = (base_url or os.environ.get("OPENAI_BASE_URL", "")).rstrip("/")
        self.api_key = api_key or os.environ.get("OPENAI_API_KEY", "")
        self.model = model or os.environ.get("OPENAI_MODEL", "gpt-4o-mini")
        self.timeout = timeout
        if not self.base_url:
            raise RuntimeError("OPENAI_BASE_URL not set")
        if transport is None:
            import requests  # noqa: PLC0415  (app-layer dependency)

            def transport(url: str, headers: dict, body: dict) -> dict:
                resp = requests.post(url, headers=headers, json=body, timeout=self.timeout)
                resp.raise_for_status()
                return resp.json()

        self._transport = transport

    def generate(self, file_name: str, data_info: dict, question: str) -> str:
        payload = self._transport(
            f"{self.base_url}/chat/completions",
            {
                "Content-Type": "application/json",
                "Authorization": f"Bearer {self.api_key}",
            },
            {
                "model": self.model,
                "messages": [
                    {"role": "user", "content": build_prompt(file_name, data_info, question)}
                ],
                "temperature": 0,
            },
        )
        choices = payload.get("choices") or []
        if not choices:
            return ""
        return (choices[0].get("message") or {}).get("content") or ""


def default_generator() -> SqlGenerator:
    """Online generator when configured (OpenAI-compat endpoint first,
    then Gemini — the reference's two paths), offline stub otherwise."""
    for cls in (OpenAICompatSqlGenerator, GeminiSqlGenerator):
        try:
            return cls()
        except RuntimeError:
            continue
    return StubSqlGenerator()
