"""REST server e2e (reference: RestAPISpec / §3.1 lifecycle)."""

import json
import threading
import time
import urllib.request

import pytest


@pytest.fixture(scope="module")
def server(spark):
    from streamingpro_spark.server import MLSQLServer
    srv = MLSQLServer(spark).start()
    yield srv
    srv.stop()


def _post(port, path, payload):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}",
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"})
    with urllib.request.urlopen(req, timeout=60) as r:
        return json.loads(r.read())


def test_run_script_sync(server, sf_dir):
    data = _post(server.port, "/run/script", {
        "sql": f"""
        load parquet.`{sf_dir}/nation.parquet` as nation;
        select count(*) as n from nation as output;
        """})
    assert data == [{"n": 25}]


def test_run_script_include_schema(server):
    data = _post(server.port, "/run/script", {
        "sql": "select 1 as one as output;",
        "includeSchema": "true"})
    assert data["schema"]["fields"][0]["name"] == "one"
    assert data["data"] == [{"one": 1}]


def test_run_script_error_rendered(server):
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(server.port, "/run/script", {"sql": "selct broken;"})
    body = json.loads(ei.value.read())
    assert "msg" in body


def test_per_owner_session_isolation(server):
    _post(server.port, "/run/script",
          {"sql": "select 1 as v as owner_a_table;", "owner": "alice"})
    # bob's cloned session must not see alice's temp view
    with pytest.raises(urllib.error.HTTPError):
        _post(server.port, "/run/script",
              {"sql": "select * from owner_a_table as out;", "owner": "bob"})
    # alice still can
    data = _post(server.port, "/run/script",
                 {"sql": "select * from owner_a_table as out;", "owner": "alice"})
    assert data == [{"v": 1}]


def test_async_job_with_callback(server):
    hits = []
    import http.server

    class H(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers.get("Content-Length", 0))
            hits.append(json.loads(self.rfile.read(n)))
            self.send_response(200)
            self.end_headers()

        def log_message(self, *a):
            pass

    cb = http.server.HTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=cb.serve_forever, daemon=True).start()
    try:
        resp = _post(server.port, "/run/script", {
            "sql": "select 7 as seven as output;",
            "async": "true",
            "callbackUrl": f"http://127.0.0.1:{cb.server_address[1]}/done"})
        assert resp["status"] == "submitted"
        deadline = time.time() + 30
        while time.time() < deadline and not hits:
            time.sleep(0.2)
        assert hits and hits[0]["status"] == "success"
        assert hits[0]["data"] == [{"seven": 7}]
    finally:
        cb.shutdown()


def test_running_jobs_and_kill(server, spark):
    resp = _post(server.port, "/run/script", {
        "sql": "select max(s) as s from (select i, sleep(20) as s from (select explode(sequence(1, 2000)) as i) tt) t as output;",
        "async": "true", "jobName": "sleepy"})
    gid = resp["groupId"]
    # 40s: under a loaded full-suite run the async submit thread can
    # take >15s to start the Spark job (observed flake, round 10) —
    # the loop exits as soon as the job surfaces, so the wide bound
    # costs nothing on a quiet host
    deadline = time.time() + 40
    jobs = []
    while time.time() < deadline:
        with urllib.request.urlopen(
                f"http://127.0.0.1:{server.port}/runningjobs", timeout=10) as r:
            jobs = json.loads(r.read())
        if any(j["jobName"] == "sleepy" for j in jobs):
            break
        time.sleep(0.2)
    assert any(j["jobName"] == "sleepy" for j in jobs)
    killed = _post(server.port, "/killjob", {"groupId": gid})
    assert killed["killed"] is True
    # job disappears from the registry
    deadline = time.time() + 10
    while time.time() < deadline:
        with urllib.request.urlopen(
                f"http://127.0.0.1:{server.port}/runningjobs", timeout=10) as r:
            jobs = json.loads(r.read())
        if not any(j["jobName"] == "sleepy" for j in jobs):
            break
        time.sleep(0.2)
    assert not any(j["jobName"] == "sleepy" for j in jobs)


def test_job_timeout_reaped(server):
    resp = _post(server.port, "/run/script", {
        "sql": "select max(s) as s from (select i, sleep(20) as s from (select explode(sequence(1, 2000)) as i) tt) t as output;",
        "async": "true", "jobName": "expiring", "timeout": "2000"})
    assert resp["status"] == "submitted"
    # the job must SURFACE first — otherwise the absence check below
    # passes vacuously before the job even starts (review finding,
    # round 10) and the reaper is never actually exercised
    deadline = time.time() + 40
    seen = False
    while time.time() < deadline:
        with urllib.request.urlopen(
                f"http://127.0.0.1:{server.port}/runningjobs", timeout=10) as r:
            jobs = json.loads(r.read())
        if any(j["jobName"] == "expiring" for j in jobs):
            seen = True
            break
        time.sleep(0.2)
    assert seen, "async job never surfaced in /runningjobs"
    deadline = time.time() + 20
    gone = False
    while time.time() < deadline:
        with urllib.request.urlopen(
                f"http://127.0.0.1:{server.port}/runningjobs", timeout=10) as r:
            jobs = json.loads(r.read())
        if not any(j["jobName"] == "expiring" for j in jobs):
            gone = True
            break
        time.sleep(0.5)
    assert gone


def test_concurrent_requests_same_owner(server):
    """Concurrent scripts from one owner must not race on script state
    (per-request Engine over the cached owner session)."""
    import concurrent.futures

    def run(i):
        return _post(server.port, "/run/script", {
            "sql": f"select {i} as v as t_conc_{i};"})

    with concurrent.futures.ThreadPoolExecutor(max_workers=8) as pool:
        results = list(pool.map(run, range(16)))
    assert [r[0]["v"] for r in results] == list(range(16))


def test_concurrent_same_owner_multistatement_no_crosswire(
        server, tmp_path_factory):
    """Round-11 (verdict): two-plus SIMULTANEOUS multi-statement
    scripts from ONE owner.  Each request's per-request Engine keeps
    its own last_table chain — the response is ITS final statement,
    never a sibling's — and the per-thread vp_txn_writes bookkeeping
    holds: every request appends to the SAME versionedParquet lake
    under its own (txn, batchId) key and every commit lands exactly
    once, while a request that saves TWICE under one key still gets
    the rendered double-save error even with siblings mid-flight (a
    shared write-set would let a sibling's per-execute clear disarm
    the guard, or a sibling's entry false-trip it)."""
    import concurrent.futures
    lake = f"{tmp_path_factory.mktemp('conc_vp')}/lake"
    _post(server.port, "/run/script", {"owner": "dave", "sql":
          f"select 0 as id as cw_seed; "
          f"save overwrite cw_seed as versionedParquet.`{lake}`;"})

    def run(i):
        return _post(server.port, "/run/script", {"owner": "dave",
                     "sql": f"""
        set __stream_txn__ = "conc-txn";
        set __batch_id__ = "{i}";
        select {i} as id as cw_mid_{i};
        select id + 100 as id from cw_mid_{i} as cw_mid2_{i};
        save append cw_mid2_{i} as versionedParquet.`{lake}`;
        select id from cw_mid2_{i} as cw_fin_{i};
        """})

    with concurrent.futures.ThreadPoolExecutor(max_workers=4) as pool:
        results = list(pool.map(run, range(4)))
    # last_table isolation: each response carries its own value
    assert [r[0]["id"] for r in results] == [100, 101, 102, 103]
    # every batch committed exactly once (seed + 4 appends)
    hist = _post(server.port, "/run/script", {"owner": "dave", "sql":
                 f"load versionedParquet.`{lake}` where history=\"true\" "
                 f"as cw_h; select version from cw_h as o;"})
    assert sorted(r["version"] for r in hist) == [0, 1, 2, 3, 4]
    rows = _post(server.port, "/run/script", {"owner": "dave", "sql":
                 f"load versionedParquet.`{lake}` as cw_all; "
                 f"select id from cw_all as o2;"})
    assert sorted(r["id"] for r in rows) == [0, 100, 101, 102, 103]

    # double-save under ONE key inside one request: rendered error for
    # THAT request only; a concurrent sibling with its own key succeeds
    def run_double():
        return _post(server.port, "/run/script", {"owner": "dave",
                     "sql": f"""
        set __stream_txn__ = "conc-txn2";
        set __batch_id__ = "0";
        select 7 as id as cw_d1;
        save append cw_d1 as versionedParquet.`{lake}`;
        select 8 as id as cw_d2;
        save append cw_d2 as versionedParquet.`{lake}`;
        """})

    def run_single():
        return _post(server.port, "/run/script", {"owner": "dave",
                     "sql": f"""
        set __stream_txn__ = "conc-txn2";
        set __batch_id__ = "1";
        select 9 as id as cw_s1;
        save append cw_s1 as versionedParquet.`{lake}`;
        select id from cw_s1 as cw_sfin;
        """})

    with concurrent.futures.ThreadPoolExecutor(max_workers=2) as pool:
        f_double = pool.submit(run_double)
        f_single = pool.submit(run_single)
        with pytest.raises(urllib.error.HTTPError) as ei:
            f_double.result()
        assert "second save" in json.loads(ei.value.read())["msg"]
        assert f_single.result() == [{"id": 9}]
    rows = _post(server.port, "/run/script", {"owner": "dave", "sql":
                 f"load versionedParquet.`{lake}` as cw_all2; "
                 f"select id from cw_all2 as o3;"})
    # the double request's FIRST save committed (7), its second was the
    # error; the sibling's 9 landed
    assert sorted(r["id"] for r in rows) == [0, 7, 9, 100, 101, 102, 103]


def test_owner_views_persist_across_requests(server):
    _post(server.port, "/run/script",
          {"sql": "select 99 as v as persisted_t;", "owner": "carol"})
    data = _post(server.port, "/run/script",
                 {"sql": "select v from persisted_t as out;", "owner": "carol"})
    assert data == [{"v": 99}]


def test_upload_then_load_roundtrip(server, tmp_path):
    import base64
    csv = "name,v\na,1\nb,2\n"
    up = _post(server.port, "/upload_file", {
        "owner": "dave", "fileName": "t.csv",
        "content": base64.b64encode(csv.encode()).decode()})
    assert up["size"] == len(csv)
    data = _post(server.port, "/run/script", {
        "owner": "dave",
        "sql": f"""
        load csv.`{up["path"]}` where header="true" as up_t;
        select name, cast(v as int) as v from up_t as output;
        """})
    assert sorted((d["name"], d["v"]) for d in data) == [("a", 1), ("b", 2)]


def test_download_endpoint_and_traversal_guard(server):
    import base64
    _post(server.port, "/upload_file", {
        "owner": "dave", "fileName": "blob.bin",
        "content": base64.b64encode(b"\x00\x01payload").decode()})
    with urllib.request.urlopen(
            f"http://127.0.0.1:{server.port}/download?owner=dave&fileName=blob.bin",
            timeout=30) as r:
        assert r.read() == b"\x00\x01payload"
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(
            f"http://127.0.0.1:{server.port}/download?owner=dave&fileName=../../etc/passwd",
            timeout=30)
    assert ei.value.code in (403, 404)


def test_upload_ext_and_download_ext(server, engine, tmp_path):
    src = tmp_path / "push.txt"
    src.write_text("hello-transfer")
    df = engine.execute(f"""
    run command as UploadFileToServerExt.`` where path="{src}" and
        url="http://127.0.0.1:{server.port}/upload_file" and owner="erin" as up;
    """)
    assert df.first()["status"] == 200
    dst = tmp_path / "pulled.txt"
    df2 = engine.execute(f"""
    run command as DownloadExt.`` where from="file://{src}" and to="{dst}" as dl;
    """)
    assert df2.first()["bytes"] == len("hello-transfer")
    assert dst.read_text() == "hello-transfer"


def test_execute_mode_analyze_over_http(server, sf_dir):
    data = _post(server.port, "/run/script", {
        "executeMode": "analyze",
        "sql": f"""
        load parquet.`{sf_dir}/nation.parquet` as nation;
        select n_name from nation as out;
        """})
    inputs = {i["table"] for i in data["inputs"]}
    assert "nation" in inputs
    outputs = {o["table"] for o in data["outputs"]}
    assert "out" in outputs


def test_session_close_frees_owner_checkpoints(spark, tmp_path_factory):
    """Checkpoint files written during an owner's requests are deleted
    when the owner's session is retired (SessionManager.close)."""
    import os
    from streamingpro_spark.operators.base import eager_materialize
    from streamingpro_spark.server import SessionManager
    spark.sparkContext.setCheckpointDir(
        str(tmp_path_factory.mktemp("ck_srv")))
    mgr = SessionManager(spark)
    eng = mgr.engine_for("alice")
    eager_materialize(spark.range(5), {}, eng.context).count()
    # a second request engine shares the same owner-lifetime list
    eng2 = mgr.engine_for("alice")
    assert eng2.context.checkpoint_files is eng.context.checkpoint_files
    files = [p.replace("file:", "") for p in eng.context.checkpoint_files]
    assert files and all(os.path.exists(f) for f in files)
    mgr.close("alice")
    assert all(not os.path.exists(f) for f in files)


def test_server_table_auth_rejects(spark, sf_dir):
    """A table_auth hook plugged into the server rejects scripts
    per-owner before execution (reference TableAuth, pass D)."""
    import urllib.error
    from streamingpro_spark.server import MLSQLServer

    def only_alice(owner, tables):
        return owner == "alice"

    srv = MLSQLServer(spark, table_auth=only_alice).start()
    try:
        data = _post(srv.port, "/run/script", {
            "sql": "select 1 as v as output;", "owner": "alice"})
        assert data == [{"v": 1}]
        with pytest.raises(urllib.error.HTTPError) as exc:
            _post(srv.port, "/run/script", {
                "sql": "select 1 as v as output;", "owner": "mallory"})
        assert exc.value.code >= 400
        body = exc.value.read().decode()
        assert "mallory" in body
    finally:
        srv.stop()


def test_execute_mode_validate(server):
    errs = _post(server.port, "/run/script", {
        "sql": "select bad syntax frum t as out;",
        "executeMode": "validate"})
    assert errs and errs[0]["kind"] == "select"
    assert _post(server.port, "/run/script", {
        "sql": "select 1 as a as out;", "executeMode": "validate"}) == []


def test_async_job_reports_statement_progress(server, sf_dir):
    """Per-statement progress counters on /runningjobs (reference
    DefaultMLSQLJobProgressListener)."""
    _post(server.port, "/run/script", {
        "sql": "select sleep(3000) as z as slow_out;",
        "async": "true", "jobName": "slowjob"})
    deadline = time.time() + 15
    seen = None
    while time.time() < deadline:
        with urllib.request.urlopen(
                f"http://127.0.0.1:{server.port}/runningjobs",
                timeout=10) as r:
            jobs = json.loads(r.read())
        mine = [j for j in jobs if j["jobName"] == "slowjob"]
        if mine and mine[0].get("progress"):
            seen = mine[0]["progress"]
            break
        time.sleep(0.2)
    assert seen is not None
    assert seen["current"] == 1 and seen["total"] == 1
    assert "sleep" in seen["script"]


def test_stop_without_start_returns(spark):
    """`stop()` on a server that never served returns: there is no
    serve_forever loop for `shutdown()` to wait for."""
    from streamingpro_spark.server import MLSQLServer
    srv = MLSQLServer(spark)
    t = threading.Thread(target=srv.stop, daemon=True)
    t.start()
    t.join(5)
    assert not t.is_alive()
