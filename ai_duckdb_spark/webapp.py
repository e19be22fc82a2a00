"""HTTP surface (reference E2/E3: app.py:109-275).

Same route contract as the reference Flask app — /api/upload,
/api/ask_question, /api/chat_history, /api/new_session, /api/sessions,
/api/files, /api/switch_session — backed by the Spark engine instead of
per-file DuckDB databases. Flask is an app-layer dependency (present in
this environment); the engine itself never imports it.

Differences from the reference, by design:
  * one SparkContext with a child session per uploaded file (the
    TableRegistry) instead of per-request ``asyncio.run`` +
    duckdb.connect (reference app.py:135,198 — the async-in-name-only
    anti-pattern, SURVEY.md §3 E2);
  * the SELECT-only promise is enforced in the executor, not the prompt.
"""

from __future__ import annotations

import os
import uuid
from datetime import datetime

from .engine import AnalyticsEngine
from .formatter import format_analysis_result
from .metadata import ChatDatabase
from .nl2sql import default_generator
from .session import get_spark

ALLOWED_EXTENSIONS = {"csv", "xlsx", "xls", "parquet", "json"}
MAX_FILE_SIZE = 16 * 1024 * 1024  # reference app.py:20


def allowed_file(filename: str) -> bool:
    return "." in filename and filename.rsplit(".", 1)[1].lower() in ALLOWED_EXTENSIONS


def create_app(upload_folder: str = "uploads", db_path: str = "chat_history.db"):
    from flask import Flask, jsonify, render_template, request, session  # app-layer import
    from werkzeug.utils import secure_filename

    from .nl2sql import load_env_file

    load_env_file()  # reference app.py:12 load_dotenv() parity
    app = Flask(__name__)
    app.secret_key = os.environ.get("APP_SECRET_KEY")
    if not app.secret_key:
        # Sessions won't survive restarts and multi-worker deployments
        # will disagree on the key; fine for dev, loud for ops.
        app.secret_key = uuid.uuid4().hex
        app.logger.warning(
            "APP_SECRET_KEY unset: using a per-process key; cookie sessions "
            "will not survive restarts or span multiple workers"
        )
    app.config["MAX_CONTENT_LENGTH"] = MAX_FILE_SIZE
    os.makedirs(upload_folder, exist_ok=True)

    spark = get_spark(app_name="ai_duckdb_spark_web")
    engine = AnalyticsEngine(spark, generator=default_generator())
    db = ChatDatabase(db_path)

    def current_session() -> str:
        if "session_id" not in session:
            session["session_id"] = str(uuid.uuid4())
            db.create_session(session["session_id"])
        return session["session_id"]

    @app.route("/")
    def index():
        """The chat frontend (reference app.py:109-111 serves index.html)."""
        return render_template("index.html")

    @app.route("/api/upload", methods=["POST"])
    def upload():
        if "file" not in request.files or not request.files["file"].filename:
            return jsonify({"error": "没有选择文件"}), 400
        file = request.files["file"]
        if not allowed_file(file.filename):
            return jsonify({"error": "不支持的文件类型"}), 400

        filename = secure_filename(file.filename)
        file_id = str(uuid.uuid4())
        # file_id in the stored name makes paths collision-free (two
        # same-named uploads within one second must not overwrite).
        stamped = f"{datetime.now():%Y%m%d_%H%M%S}_{file_id}_{filename}"
        file_path = os.path.join(upload_folder, stamped)
        file.save(file_path)
        analyzed = engine.analyze_file(file_path, file_id=file_id)
        if "error" in analyzed:
            os.remove(file_path)  # a rejected upload keeps nothing on disk
            return jsonify({"error": analyzed["error"]}), 400

        session_id = current_session()
        db.save_file_info(session_id, {
            "id": file_id,
            "filename": filename,
            "filepath": file_path,
            "data_info": analyzed["data_info"],
        })
        return jsonify({"success": True, "file_id": file_id,
                        "data_info": analyzed["data_info"]})

    @app.route("/api/ask_question", methods=["POST"])
    def ask_question():
        body = request.get_json(silent=True) or {}
        question, file_id = body.get("question"), body.get("file_id")
        if not question or not file_id:
            return jsonify({"error": "缺少 question 或 file_id"}), 400

        detail = db.get_file_detail(file_id)
        if not detail:
            return jsonify({"error": "文件不存在"}), 404

        result = engine.analyze_data_with_ai(
            detail["filepath"], question, data_info=detail["data_info"]
        )
        markdown = format_analysis_result(result)
        chat_id = str(uuid.uuid4())
        db.save_chat_record(current_session(), file_id, {
            "id": chat_id,
            "timestamp": datetime.now().isoformat(),
            "question": question,
            "result": result.get("result", {"error": result.get("error")}),
            "markdown_result": markdown,
        })
        status = 400 if "error" in result else 200
        return jsonify({"chat_id": chat_id, "markdown_result": markdown}), status

    @app.route("/api/chat_history")
    def chat_history():
        return jsonify({"history": db.get_chat_history(current_session())})

    @app.route("/api/new_session", methods=["POST"])
    def new_session():
        session["session_id"] = str(uuid.uuid4())
        db.create_session(session["session_id"])
        return jsonify({"session_id": session["session_id"]})

    @app.route("/api/sessions")
    def sessions():
        return jsonify({"sessions": db.get_all_sessions()})

    @app.route("/api/files")
    def files():
        return jsonify({"files": db.get_files(current_session())})

    @app.route("/api/switch_session/<session_id>", methods=["POST"])
    def switch_session(session_id: str):
        if not db.session_exists(session_id):
            return jsonify({"error": "会话不存在"}), 404
        session["session_id"] = session_id
        return jsonify({"session_id": session_id})

    return app


if __name__ == "__main__":
    create_app().run(host="127.0.0.1", port=5000)
