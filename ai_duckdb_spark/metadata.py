"""Session / file / chat metadata store (SURVEY.md §2.10).

Same SQLite schema and method surface as the reference's ChatDatabase
(reference database.py:18-53 DDL; CRUD database.py:58-269): sessions,
files (with the JSON-serialized data_info profile), chat_records. This
layer is deliberately NOT Spark — catalog metadata is row-at-a-time
CRUD, the wrong shape for a distributed engine, exactly as the reference
keeps it beside DuckDB.

One intentional behavior fix: the reference's ``get_all_sessions``
(database.py:212-247) left-joins chat_records without restricting to the
latest record, so sessions with N distinct questions emit N rows. Here
the "latest question/filename per session" is computed with a proper
max-timestamp subquery (the J2 latest-row-per-group pattern) and one row
per session is returned — same output keys.
"""

from __future__ import annotations

import json
import sqlite3
from contextlib import contextmanager
from datetime import datetime

_DDL = [
    """CREATE TABLE IF NOT EXISTS sessions (
        id TEXT PRIMARY KEY,
        created_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP,
        updated_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP
    )""",
    """CREATE TABLE IF NOT EXISTS files (
        id TEXT PRIMARY KEY,
        session_id TEXT,
        filename TEXT,
        filepath TEXT,
        data_info TEXT,
        created_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP,
        FOREIGN KEY (session_id) REFERENCES sessions (id)
    )""",
    """CREATE TABLE IF NOT EXISTS chat_records (
        id TEXT PRIMARY KEY,
        session_id TEXT,
        file_id TEXT,
        timestamp TIMESTAMP,
        question TEXT,
        result TEXT,
        markdown_result TEXT,
        created_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP,
        FOREIGN KEY (session_id) REFERENCES sessions (id),
        FOREIGN KEY (file_id) REFERENCES files (id)
    )""",
]


class ChatDatabase:
    def __init__(self, db_path: str = "chat_history.db"):
        self.db_path = db_path
        with self._conn() as conn:
            for ddl in _DDL:
                conn.execute(ddl)

    @contextmanager
    def _conn(self):
        conn = sqlite3.connect(self.db_path)
        try:
            yield conn
            conn.commit()
        finally:
            conn.close()

    def create_session(self, session_id: str) -> None:
        now = datetime.now()
        with self._conn() as conn:
            conn.execute(
                "INSERT OR REPLACE INTO sessions (id, created_at, updated_at) VALUES (?, ?, ?)",
                (session_id, now, now),
            )

    def _ensure_session(self, conn: sqlite3.Connection, session_id: str) -> None:
        row = conn.execute("SELECT id FROM sessions WHERE id = ?", (session_id,)).fetchone()
        if not row:
            now = datetime.now()
            conn.execute(
                "INSERT INTO sessions (id, created_at, updated_at) VALUES (?, ?, ?)",
                (session_id, now, now),
            )

    def save_file_info(self, session_id: str, file_info: dict) -> None:
        with self._conn() as conn:
            self._ensure_session(conn, session_id)
            conn.execute(
                "INSERT INTO files (id, session_id, filename, filepath, data_info)"
                " VALUES (?, ?, ?, ?, ?)",
                (
                    file_info["id"],
                    session_id,
                    file_info["filename"],
                    file_info["filepath"],
                    # default=str is belt-and-braces: profile_dataframe
                    # already normalizes, but callers may pass their own
                    # data_info dicts with datetime/Decimal scalars
                    json.dumps(file_info["data_info"], ensure_ascii=False, default=str),
                ),
            )
            conn.execute(
                "UPDATE sessions SET updated_at = ? WHERE id = ?", (datetime.now(), session_id)
            )

    def get_files(self, session_id: str) -> list[dict]:
        with self._conn() as conn:
            rows = conn.execute(
                "SELECT id, filename, created_at FROM files"
                " WHERE session_id = ? ORDER BY created_at DESC",
                (session_id,),
            ).fetchall()
        return [{"id": r[0], "filename": r[1], "created_at": r[2]} for r in rows]

    def get_file_detail(self, file_id: str) -> dict | None:
        with self._conn() as conn:
            row = conn.execute(
                "SELECT id, filename, filepath, data_info FROM files WHERE id = ?", (file_id,)
            ).fetchone()
        if not row:
            return None
        return {
            "id": row[0],
            "filename": row[1],
            "filepath": row[2],
            "data_info": json.loads(row[3]) if row[3] else {},
        }

    def save_chat_record(self, session_id: str, file_id: str, chat_record: dict) -> None:
        with self._conn() as conn:
            self._ensure_session(conn, session_id)
            conn.execute(
                "INSERT INTO chat_records"
                " (id, session_id, file_id, timestamp, question, result, markdown_result)"
                " VALUES (?, ?, ?, ?, ?, ?, ?)",
                (
                    chat_record["id"],
                    session_id,
                    file_id,
                    chat_record["timestamp"],
                    chat_record["question"],
                    json.dumps(chat_record["result"], ensure_ascii=False, default=str),
                    chat_record["markdown_result"],
                ),
            )
            conn.execute(
                "UPDATE sessions SET updated_at = ? WHERE id = ?", (datetime.now(), session_id)
            )

    def get_chat_history(self, session_id: str) -> list[dict]:
        with self._conn() as conn:
            rows = conn.execute(
                "SELECT cr.id, cr.timestamp, cr.question, f.filename, cr.result,"
                " cr.markdown_result"
                " FROM chat_records cr LEFT JOIN files f ON cr.file_id = f.id"
                " WHERE cr.session_id = ? ORDER BY cr.timestamp ASC",
                (session_id,),
            ).fetchall()
        return [
            {
                "id": r[0],
                "timestamp": r[1],
                "question": r[2],
                "filename": r[3],
                "result": json.loads(r[4]) if r[4] else {},
                "markdown_result": r[5],
            }
            for r in rows
        ]

    def get_all_sessions(self) -> list[dict]:
        """One row per session with chat count + latest question/filename."""
        with self._conn() as conn:
            rows = conn.execute(
                """
                SELECT s.id, s.created_at, s.updated_at,
                       (SELECT COUNT(*) FROM chat_records c WHERE c.session_id = s.id),
                       latest.question,
                       latest_file.filename
                FROM sessions s
                LEFT JOIN (
                    SELECT cr.session_id, cr.question, cr.file_id
                    FROM chat_records cr
                    JOIN (
                        SELECT session_id, MAX(timestamp) AS max_ts
                        FROM chat_records GROUP BY session_id
                    ) m ON cr.session_id = m.session_id AND cr.timestamp = m.max_ts
                ) latest ON s.id = latest.session_id
                LEFT JOIN files latest_file ON latest.file_id = latest_file.id
                ORDER BY s.updated_at DESC
                """
            ).fetchall()
        return [
            {
                "id": r[0],
                "created_at": r[1],
                "updated_at": r[2],
                "chat_count": r[3],
                "latest_question": r[4],
                "latest_filename": r[5],
            }
            for r in rows
        ]

    def delete_session(self, session_id: str) -> None:
        with self._conn() as conn:
            conn.execute("DELETE FROM chat_records WHERE session_id = ?", (session_id,))
            conn.execute("DELETE FROM sessions WHERE id = ?", (session_id,))

    def session_exists(self, session_id: str) -> bool:
        with self._conn() as conn:
            row = conn.execute(
                "SELECT id FROM sessions WHERE id = ?", (session_id,)
            ).fetchone()
        return row is not None
