"""REST entry point + job manager + per-owner sessions.

Reference lifecycle (SURVEY.md §3.1, RestController.scala:105-266):
`POST /run/script` with params sql/owner/async/timeout/includeSchema/
fetchType; per-owner SparkSession clones (SparkSessionCacheManager);
JobManager wraps execution in a job group (groupId) with an expiry
checker thread (JobManager.scala:64-204); async jobs run on a pool and
POST the result to `callbackUrl`; `/runningjobs` lists, `/killjob`
cancels (group cancel for batch, query.stop for streams).

Spark-first notes: job-group cancellation is the native Spark mechanism
(`sc.setJobGroup` / `sc.cancelJobGroup`) and works identically on a
1000-executor cluster; per-owner isolation uses `spark.newSession()`
(shared SparkContext, separate temp views/UDFs/conf) exactly like the
reference.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import TYPE_CHECKING, Any
from urllib.parse import parse_qs

if TYPE_CHECKING:
    from pyspark.sql import SparkSession


class JobInfo:
    __slots__ = ("group_id", "owner", "job_type", "job_name", "sql",
                 "timeout_ms", "start_ms", "status", "progress")

    def __init__(self, owner: str, job_type: str, job_name: str, sql: str,
                 timeout_ms: int) -> None:
        self.group_id = str(uuid.uuid4())
        self.owner = owner
        self.job_type = job_type
        self.job_name = job_name or self.group_id
        self.sql = sql
        self.timeout_ms = timeout_ms
        self.start_ms = int(time.time() * 1000)
        self.status = "running"
        self.progress: dict[str, Any] = {}

    def as_dict(self) -> dict[str, Any]:
        return {"groupId": self.group_id, "owner": self.owner,
                "jobType": self.job_type, "jobName": self.job_name,
                "timeout": self.timeout_ms, "startTime": self.start_ms,
                "status": self.status, "progress": self.progress}


class JobManager:
    """Job-group registry + timeout reaper (reference JobManager.scala)."""

    def __init__(self, spark: "SparkSession") -> None:
        self.spark = spark
        self.jobs: dict[str, JobInfo] = {}
        self._lock = threading.Lock()
        self._pool = ThreadPoolExecutor(max_workers=32,
                                        thread_name_prefix="mlsql-async")
        self._stop = threading.Event()
        self._reaper = threading.Thread(target=self._check_timeouts,
                                        daemon=True, name="mlsql-job-reaper")
        self._reaper.start()

    def shutdown(self) -> None:
        self._stop.set()
        self._pool.shutdown(wait=False)

    def _check_timeouts(self) -> None:
        while not self._stop.wait(1.0):
            now = int(time.time() * 1000)
            with self._lock:
                expired = [j for j in self.jobs.values()
                           if j.timeout_ms > 0 and now - j.start_ms > j.timeout_ms]
            for j in expired:
                self.cancel(j.group_id)

    def register(self, job: JobInfo) -> None:
        with self._lock:
            self.jobs[job.group_id] = job

    def finish(self, group_id: str) -> None:
        with self._lock:
            self.jobs.pop(group_id, None)

    def cancel(self, group_id_or_name: str) -> bool:
        with self._lock:
            job = self.jobs.get(group_id_or_name) or next(
                (j for j in self.jobs.values()
                 if j.job_name == group_id_or_name), None)
        if job is None:
            return False
        self.spark.sparkContext.cancelJobGroup(job.group_id)
        job.status = "canceled"
        self.finish(job.group_id)
        return True

    def run(self, job: JobInfo, fn, *args):
        """Execute fn inside the job's group (cancellable)."""
        self.register(job)
        sc = self.spark.sparkContext
        try:
            sc.setJobGroup(job.group_id, job.sql[:200], interruptOnCancel=True)
            return fn(*args)
        finally:
            sc.setJobGroup("", "")
            self.finish(job.group_id)

    def run_async(self, job: JobInfo, fn, *args):
        return self._pool.submit(self.run, job, fn, *args)


class SessionManager:
    """Per-owner SparkSession clones (reference SparkSessionCacheManager).

    The SparkSession (temp views, UDFs, conf) is cached per owner; the
    Engine is built PER REQUEST — its last_table/branch state is
    request-scoped exactly like the reference's per-request
    ScriptSQLExecListener, so concurrent requests from one owner don't
    race on script state (construction is cheap: UDF registration and
    the command view are session-guarded)."""

    def __init__(self, spark: "SparkSession", table_auth=None) -> None:
        self._root = spark
        self._sessions: dict[str, Any] = {}
        self._ck_files: dict[str, list] = {}
        self._lock = threading.Lock()
        self._table_auth = table_auth

    def engine_for(self, owner: str):
        from streamingpro_spark.engine import Engine
        with self._lock:
            if owner not in self._sessions:
                self._sessions[owner] = self._root.newSession()
                self._ck_files[owner] = []
            session = self._sessions[owner]
            ck = self._ck_files[owner]
        eng = Engine(session, owner=owner, table_auth=self._table_auth)
        # checkpoint files outlive the request (their views are session
        # state) — share one owner-lifetime list so close(owner) can
        # delete them (Engine.close docstring: Spark only auto-cleans
        # when cleanCheckpoints was set at session build)
        eng.context.checkpoint_files = ck
        return eng

    def close(self, owner: str) -> None:
        with self._lock:
            session = self._sessions.pop(owner, None)
            ck = self._ck_files.pop(owner, [])
        if session is not None and ck:
            from streamingpro_spark.engine import Engine
            eng = Engine(session, owner=owner)
            eng.context.checkpoint_files = ck
            eng.close()


class MLSQLServer:
    """HTTP façade: /run/script, /runningjobs, /killjob, /health."""

    def __init__(self, spark: "SparkSession", host: str = "127.0.0.1",
                 port: int = 0, table_auth=None) -> None:
        self.sessions = SessionManager(spark, table_auth=table_auth)
        self.jobs = JobManager(spark)
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _send(self, code: int, payload,
                      ctype: str = "application/json") -> None:
                body = (payload if isinstance(payload, bytes)
                        else json.dumps(payload).encode())
                self.send_response(code)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):
                if self.path.startswith("/health"):
                    self._send(200, {"status": "ok"})
                elif self.path.startswith("/runningjobs"):
                    with outer.jobs._lock:
                        snapshot = [j.as_dict()
                                    for j in outer.jobs.jobs.values()]
                    # send AFTER releasing: a slow reader blocking the
                    # socket write must not stall job registration
                    self._send(200, snapshot)
                elif self.path.startswith("/download"):
                    from urllib.parse import parse_qs as _pq, urlparse as _up
                    q = {k: v[0] for k, v in _pq(_up(self.path).query).items()}
                    try:
                        data = outer.read_upload(q.get("owner", "admin"),
                                                 q.get("fileName", ""))
                        self._send(200, data, "application/octet-stream")
                    except FileNotFoundError:
                        self._send(404, {"msg": "no such file"})
                    except PermissionError as e:
                        self._send(403, {"msg": str(e)})
                else:
                    self._send(404, {"msg": "not found"})

            def do_POST(self):
                try:
                    n = int(self.headers.get("Content-Length", 0))
                    raw = self.rfile.read(n).decode()
                    ctype = self.headers.get("Content-Type", "")
                    if "json" in ctype:
                        params = json.loads(raw or "{}")
                    else:
                        params = {k: v[0] for k, v in parse_qs(raw).items()}
                    if self.path.startswith("/run/script"):
                        self._send(200, outer.run_script(params))
                    elif self.path.startswith("/upload_file"):
                        self._send(200, outer.save_upload(
                            params.get("owner", "admin"),
                            params.get("fileName", ""),
                            params.get("content", "")))
                    elif self.path.startswith("/killjob"):
                        ok = outer.jobs.cancel(params.get("groupId")
                                               or params.get("jobName", ""))
                        self._send(200, {"killed": ok})
                    else:
                        self._send(404, {"msg": "not found"})
                except Exception as e:  # reference ExceptionRenderManager
                    self._send(500, {"msg": str(e)[:2000]})

        self.httpd = ThreadingHTTPServer((host, port), Handler)
        self.port = self.httpd.server_address[1]
        self._thread = threading.Thread(target=self.httpd.serve_forever,
                                        daemon=True, name="mlsql-http")

    # -- file transfer (reference: SQLUploadFileToServerExt /
    # SQLDownloadExt REST file staging) ---------------------------------
    def upload_dir(self, owner: str) -> str:
        import tempfile
        root = os.environ.get("MLSQL_UPLOAD_DIR") or os.path.join(
            tempfile.gettempdir(), "streamingpro_uploads")
        d = os.path.join(root, owner)
        os.makedirs(d, exist_ok=True)
        return d

    def _safe_path(self, owner: str, file_name: str) -> str:
        d = self.upload_dir(owner)
        p = os.path.realpath(os.path.join(d, file_name))
        if not p.startswith(os.path.realpath(d) + os.sep):
            raise PermissionError("path escapes upload dir")
        return p

    def save_upload(self, owner: str, file_name: str, content_b64: str) -> dict:
        """POST /upload_file {owner, fileName, content: base64} → staged
        path loadable by a subsequent `load fmt.`path`` script."""
        import base64
        if not file_name:
            raise ValueError("fileName is required")
        p = self._safe_path(owner, file_name)
        with open(p, "wb") as f:
            f.write(base64.b64decode(content_b64))
        return {"path": p, "size": os.path.getsize(p)}

    def read_upload(self, owner: str, file_name: str) -> bytes:
        """GET /download?owner=..&fileName=.. → raw bytes."""
        if not file_name:
            raise FileNotFoundError(file_name)
        with open(self._safe_path(owner, file_name), "rb") as f:
            return f.read()

    # -- core script execution (also usable without HTTP) ----------------
    def run_script(self, params: dict[str, Any]) -> Any:
        sql = params.get("sql", "")
        owner = params.get("owner", "admin")
        if params.get("executeMode", "query") == "analyze":
            return self.sessions.engine_for(owner).analyze(sql).as_dict()
        if params.get("executeMode") == "validate":
            return self.sessions.engine_for(owner).validate(sql)
        timeout_ms = int(params.get("timeout", -1))
        limit = int(params.get("outputSize", 1000))
        include_schema = str(params.get("includeSchema", "false")).lower() == "true"
        fetch_collect = params.get("fetchType", "take") == "collect"
        is_async = str(params.get("async", "false")).lower() == "true"
        job = JobInfo(owner, "script", params.get("jobName", ""), sql, timeout_ms)

        def execute():
            eng = self.sessions.engine_for(owner)

            def on_progress(i, total, text):
                # reference DefaultMLSQLJobProgressListener: per-statement
                # counters visible via /runningjobs
                job.progress = {"current": i + 1, "total": total,
                                "script": text}
            eng.progress_callback = on_progress
            df = eng.execute(sql)
            if df is None:
                return {"schema": None, "data": []} if include_schema else []
            rows = (df.toJSON().collect() if fetch_collect
                    else df.toJSON().take(limit))
            data = [json.loads(r) for r in rows]
            if include_schema:
                return {"schema": json.loads(df.schema.json()), "data": data}
            return data

        if is_async:
            callback = params.get("callbackUrl")

            def run_and_callback():
                try:
                    result = self.jobs.run(job, execute)
                    status, payload = "success", result
                except Exception as e:
                    status, payload = "error", str(e)[:2000]
                if callback:
                    import urllib.request
                    req = urllib.request.Request(
                        callback,
                        data=json.dumps({"jobName": job.job_name,
                                         "status": status,
                                         "data": payload}).encode(),
                        headers={"Content-Type": "application/json"})
                    try:
                        urllib.request.urlopen(req, timeout=10).read()
                    except Exception:
                        pass

            self.jobs._pool.submit(run_and_callback)
            return {"groupId": job.group_id, "jobName": job.job_name,
                    "status": "submitted"}
        return self.jobs.run(job, execute)

    # -- lifecycle -------------------------------------------------------
    def start(self) -> "MLSQLServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._thread.is_alive():
            # shutdown() waits for a serve_forever loop to exit
            self.httpd.shutdown()
        self.httpd.server_close()   # release the listener fd (re-bind)
        self.jobs.shutdown()
