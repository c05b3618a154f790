"""One static walker: `parser.walk` feeds `Engine.validate`,
`Engine.analyze`, the `table_auth` pre-pass and REST
`executeMode=analyze`, so every static answer about a script agrees
with the others and with execution."""

import pytest

from conftest import assert_used_only_in
from streamingpro_spark import parser as P


def test_access_list_parity(spark, sf_dir, tmp_path, monkeypatch):
    """`Engine.analyze`, the tables a `table_auth` hook receives and
    REST analyze agree on a script with both include forms, a session
    variable, set-then-use, a macro and `register`."""
    from streamingpro_spark import Engine
    from streamingpro_spark.server import MLSQLServer

    sub = tmp_path / "sub.mlsql"
    sub.write_text("load parquet.`${p}` as sub_t;")
    script = f"""
    include local.`{sub}`;
    set body = '''load parquet.`{sf_dir}/nation.parquet` as nat;''';
    include script.`body`;
    set q = "{sf_dir}/orders.parquet";
    load parquet.`${{q}}` as ord;
    !split nat by n_regionkey rate 0.5,0.5 named halves;
    register RandomForest.`/models/rf` as rf_predict;
    select * from sub_t join ord as out;
    """
    region = f"{sf_dir}/region.parquet"

    seen = []

    def deny(owner, tables):
        seen.append(tables)
        return False

    eng = Engine(spark, table_auth=deny)
    eng.context.env["p"] = region
    analyzed = eng.analyze(script).as_dict()
    with pytest.raises(PermissionError):
        eng.execute(script)

    srv = MLSQLServer(spark).start()
    try:
        engine_for = srv.sessions.engine_for

        def seeded(owner):
            e = engine_for(owner)
            e.context.env["p"] = region
            return e
        monkeypatch.setattr(srv.sessions, "engine_for", seeded)
        rest = srv.run_script({"sql": script, "executeMode": "analyze"})
    finally:
        srv.stop()

    assert analyzed == seen[0] == rest
    inputs = {(t["table"], t["operateType"]) for t in analyzed["inputs"]}
    assert {(region, "load"),
            (f"{sf_dir}/nation.parquet", "load"),
            (f"{sf_dir}/orders.parquet", "load"),
            ("nat", "run"),
            ("/models/rf", "register"),
            ("sub_t", "select"), ("ord", "select")} <= inputs
    assert not any("${" in t["table"] for t in analyzed["inputs"])


def test_walk_binds_set_like_execution():
    """Overwrite, except `type=defaultParam`; the caller's env is not
    touched."""
    env = {"a": "session"}
    got = [w.text for w in P.walk("""
    set a = "x" where type="defaultParam";
    set b = "1";
    set b = "2";
    select '${a}', '${b}' as t;
    """, env)]
    assert got[-1] == "select 'session', '2' as t"
    assert env == {"a": "session"}


def test_walk_yields_parse_failures():
    walked = list(P.walk("load ; select 1 as a as t;", {}))
    assert walked[0].stmt is None and isinstance(walked[0].error, IndexError)
    assert isinstance(walked[1].stmt, P.SelectStmt)


def test_walk_include_depth_and_unresolved(engine):
    """A self-including script stops at the nesting limit and an include
    with no source is yielded unchanged — neither raises."""
    walked = list(P.walk("""
    set me = '''include script.`me`;''';
    include script.`me`;
    include script.`nowhere`;
    """, {}, engine._fetch_include))
    kinds = [type(w.stmt).__name__ for w in walked]
    assert kinds == ["SetStmt", "IncludeStmt", "IncludeStmt"]
    assert walked[1].index == 1 and walked[2].index == 2
    assert walked[2].stmt.path == "nowhere"


def test_validate_sees_included_statements(engine):
    errs = engine.validate("""
    set body = '''select 1 as a as fine; selct 2 frm nope;''';
    include script.`body`;
    """)
    assert [e["statement"] for e in errs] == [1]
    assert errs[0]["text"] == "selct 2 frm nope"


def test_validate_and_execute_share_command_check(engine):
    """A documented-drop macro gets the same message from validate as
    from execute, not `unknown command`."""
    with pytest.raises(ValueError) as exc:
        engine.execute("!ray;")
    assert "documented drop" in str(exc.value)
    assert [e["error"] for e in engine.validate("!ray;")] == [str(exc.value)]
    with pytest.raises(ValueError, match="unknown command !nosuch"):
        engine.execute("!nosuch;")
    assert [e["error"] for e in engine.validate("!nosuch;")] == \
        ["unknown command !nosuch"]


def test_syntax_analyze_ext_tables(engine):
    """SyntaxAnalyzeExt shares the analyzer's extractor: CTE aliases are
    not inputs and `db.tbl` stays whole."""
    df = engine.execute("""
    run command as SyntaxAnalyzeExt.`` where sql='''with t as (select * from a)
    select * from t join db1.b on t.id = b.id''' as sa_out;
    """)
    assert [r["tableName"] for r in df.collect()] == ["a", "db1.b"]


def test_split_statements_only_in_runtime_loops():
    """Outside parser.py, only execution's statement loop and its lazy
    include splice split scripts; every static question goes through
    `parser.walk`."""
    allow = {
        ("engine.py", "Engine.execute"): "the runtime statement loop",
        ("engine.py", "Engine._execute_statement"):
            "the runtime include splice, in statement order",
    }
    assert_used_only_in("split_statements", allow,
                        "a static pass must reach statements through "
                        "parser.walk, not split_statements",
                        skip=("parser.py",))


def test_walk_leaves_sql_and_shell_sets_unbound():
    """A `set` of type sql or shell is bound by execution to a result
    the walk cannot know: the variable stays unbound, even over a
    session value of the same name."""
    got = [w.text for w in P.walk("""
    set p = "select 'a'" where type="sql";
    set q = "echo b" where type="shell";
    load parquet.`${p}/${q}` as t;
    """, {"p": "session"})]
    assert got[-1] == "load parquet.`${p}/${q}` as t"


def test_table_auth_sees_sql_bound_path(spark, tmp_path):
    """A path computed by `set ... where type="sql"` reaches the
    `table_auth` hook as the path execution reads, not as the query
    text, and a rejected path is never read."""
    from streamingpro_spark import Engine
    secret = tmp_path / "secret_x"
    spark.range(1).write.parquet(str(secret))
    seen = []

    def deny_secret(owner, tables):
        paths = [t["table"] for t in tables["inputs"]]
        seen.extend(paths)
        return not any("secret" in p for p in paths)

    eng = Engine(spark, table_auth=deny_secret)
    script = (f"set p = \"select concat('{tmp_path}/sec', 'ret_x')\" "
              "where type=\"sql\"; "
              "load parquet.`${p}` as sql_bound_t;")
    assert eng.validate(script) == []
    with pytest.raises(PermissionError):
        eng.execute(script)
    assert str(secret) in seen
    assert not spark.catalog.tableExists("sql_bound_t")
