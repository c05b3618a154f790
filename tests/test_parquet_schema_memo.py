"""The parquet schema memo (`sources/registry.read_parquet`): a re-load
of an unchanged local parquet path gets its stored schema and runs no
Spark job, with the same schema and rows as a fresh inference; a changed
listing, a changed SQL conf, a glob, a recent write or a new session
infers again."""

import os
import time
import uuid

import pytest

from conftest import assert_used_only_in


def _age(path, seconds):
    """Set the mtime of `path`, or of every file under it, `seconds`
    into the past: an unchanged input, not one written a moment ago."""
    t = time.time() - seconds
    files = [path] if os.path.isfile(path) else [
        os.path.join(d, f) for d, _, names in os.walk(path) for f in names]
    for f in files:
        os.utime(f, (t, t))


def _jobs(spark, fn):
    """(fn(), the number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"schema-memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _load(engine, stmt):
    return engine.execute(f"{stmt} as memo_t;")


# ---------------------------------------------------------------------------
# result neutrality: a hit reads what a fresh inference reads
# ---------------------------------------------------------------------------

def _single_file(spark, engine, tmp):
    import pyarrow as pa
    import pyarrow.parquet as pq
    f = str(tmp / "t.parquet")
    pq.write_table(pa.table({"k": [1, 2, None], "s": ["a", None, "c"],
                             "d": [0.5, 1.5, 2.5]}), f)
    return f, f"load parquet.`{f}`"


def _directory(spark, engine, tmp):
    d = str(tmp / "dir")
    spark.range(10).selectExpr("id", "cast(id * 2 as int) as v") \
        .repartition(2).write.parquet(d)
    return d, f"load parquet.`{d}`"


def _hive_partitioned(spark, engine, tmp):
    d = str(tmp / "hive")
    spark.range(12).selectExpr(
        "id", "cast(id % 3 as string) as p", "id % 2 as q",
        "concat('x', id) as s").write.partitionBy("p", "q").parquet(d)
    return d, f"load parquet.`{d}`"


def _merged_evolved(spark, engine, tmp):
    import pyarrow as pa
    import pyarrow.parquet as pq
    d = tmp / "evo"
    d.mkdir()
    pq.write_table(pa.table({"k": [1, 2]}), str(d / "a.parquet"))
    pq.write_table(pa.table({"k": [3], "extra": ["e"]}),
                   str(d / "b.parquet"))
    return str(d), f'load parquet.`{d}` where mergeSchema="true"'


def _int96(spark, engine, tmp):
    d = str(tmp / "int96")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        spark.sql("select id as k, timestamp_seconds(1700000000 + id) as ts "
                  "from range(4)").coalesce(1).write.parquet(d)
    finally:
        spark.conf.unset("spark.sql.parquet.outputTimestampType")
    return d, f"load parquet.`{d}`"


def _nanos(spark, engine, tmp):
    import pyarrow as pa
    import pyarrow.parquet as pq
    f = str(tmp / "ns.parquet")
    pq.write_table(pa.table({
        "k": pa.array([0, 1], type=pa.int64()),
        "ts": pa.array([1700000000_000000123, 1700000001_000000456],
                       type=pa.timestamp("ns"))}), f)
    return f, f"load parquet.`{f}`"


def _versioned(spark, engine, tmp):
    lake = str(tmp / "lake")
    engine.execute(f"""
    select id, concat('r', id) as s from range(3) as vp0;
    save overwrite vp0 as versionedParquet.`{lake}`;
    select id + 3 as id, concat('r', id + 3) as s from range(2) as vp1;
    save append vp1 as versionedParquet.`{lake}`;
    """)
    return lake, f"load versionedParquet.`{lake}`"


def _relative(spark, engine, tmp):
    path, _ = _single_file(spark, engine, tmp)
    rel = os.path.relpath(path)
    assert not os.path.isabs(rel)
    return path, f"load parquet.`{rel}`"


@pytest.mark.parametrize("make", [
    _single_file, _directory, _hive_partitioned, _merged_evolved, _int96,
    _nanos, _versioned, _relative], ids=lambda f: f.__name__.lstrip("_"))
def test_hit_reads_what_inference_reads(spark, engine, tmp_path, make):
    """The first load infers; the second gets the stored schema, runs
    no Spark job, and returns the same schema (types, order, partition
    columns) and rows."""
    path, stmt = make(spark, engine, tmp_path)
    _age(path, 3600)
    fresh, n_fresh = _jobs(spark, lambda: _load(engine, stmt))
    hit, n_hit = _jobs(spark, lambda: _load(engine, stmt))
    assert n_fresh >= 1 and n_hit == 0
    assert hit.schema == fresh.schema
    assert _rows(hit) == _rows(fresh)


# ---------------------------------------------------------------------------
# invalidation
# ---------------------------------------------------------------------------

def test_appended_file_reinfers(spark, engine, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    d = tmp_path / "grow"
    d.mkdir()
    pq.write_table(pa.table({"k": [1]}), str(d / "a.parquet"))
    _age(str(d), 3600)
    stmt = f'load parquet.`{d}` where mergeSchema="true"'
    _load(engine, stmt)
    pq.write_table(pa.table({"k": [2], "extra": ["e"]}),
                   str(d / "b.parquet"))
    _age(str(d / "b.parquet"), 1800)
    df, n = _jobs(spark, lambda: _load(engine, stmt))
    assert n >= 1
    assert df.columns == ["k", "extra"]
    assert _rows(df) == [(1, None), (2, "e")]


def test_same_name_rewrite_reinfers(spark, engine, tmp_path):
    """A rewrite that does not go through the engine's `save`."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    f = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": [1, 2]}), f)
    _age(f, 3600)
    _load(engine, f"load parquet.`{f}`")
    pq.write_table(pa.table({"k": ["x"], "v": [1.5]}), f)
    _age(f, 1800)
    df, n = _jobs(spark, lambda: _load(engine, f"load parquet.`{f}`"))
    assert n >= 1
    assert _rows(df) == [("x", 1.5)]


def test_changed_conf_reinfers(spark, engine, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    f = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"ab"], type=pa.binary())}), f)
    _age(f, 3600)
    stmt = f"load parquet.`{f}`"
    assert _load(engine, stmt).schema["b"].dataType.simpleString() == "binary"
    key = "spark.sql.parquet.binaryAsString"
    spark.conf.set(key, "true")
    try:
        df, n = _jobs(spark, lambda: _load(engine, stmt))
        assert n >= 1
        assert df.schema["b"].dataType.simpleString() == "string"
        assert _rows(df) == [("ab",)]
    finally:
        spark.conf.unset(key)


def test_glob_is_never_memoized(spark, engine, tmp_path):
    path, _ = _directory(spark, engine, tmp_path)
    _age(path, 3600)
    stmt = f"load parquet.`{path}/*.parquet`"
    _load(engine, stmt)
    df, n = _jobs(spark, lambda: _load(engine, stmt))
    assert n >= 1 and df.count() == 10


def test_recent_write_is_not_memoized(spark, engine, tmp_path):
    """A file younger than one mtime tick could be rewritten without
    changing its listing, so its read infers every time."""
    path, stmt = _single_file(spark, engine, tmp_path)
    _load(engine, stmt)
    _, n = _jobs(spark, lambda: _load(engine, stmt))
    assert n >= 1


def test_new_session_reinfers(spark, tmp_path):
    from streamingpro_spark.sources.registry import read_parquet
    path, _ = _single_file(spark, None, tmp_path)
    _age(path, 3600)
    read_parquet(spark, [path], {})
    (_, nanos), n = _jobs(spark, lambda: read_parquet(spark, [path], {}))
    assert n == 0 and nanos == []
    other = spark.newSession()
    _, n = _jobs(spark, lambda: read_parquet(other, [path], {}))
    assert n >= 1


# ---------------------------------------------------------------------------
# the TIMESTAMP(NANOS) shim follows a rewrite
# ---------------------------------------------------------------------------

def _write_ts(path, unit):
    import pyarrow as pa
    import pyarrow.parquet as pq
    scale = {"us": 1_000_000, "ns": 1_000_000_000}[unit]
    pq.write_table(pa.table({
        "k": pa.array([0, 1], type=pa.int64()),
        "ts": pa.array([1700000000 * scale, 1700000060 * scale],
                       type=pa.timestamp(unit, tz="UTC"))}), path)


@pytest.mark.parametrize("first,second", [("us", "ns"), ("ns", "us")])
def test_nanos_shim_follows_rewrite(engine, tmp_path, first, second):
    """Microseconds rewritten as nanoseconds and back, in place and
    outside the engine's `save`: each load reads the file as it is now."""
    f = str(tmp_path / "t.parquet")
    stmt = f"load parquet.`{f}` as ts_t; " \
           "select k, unix_timestamp(ts) as s from ts_t as ts_out;"
    want = [(0, 1700000000), (1, 1700000060)]
    _write_ts(f, first)
    _age(f, 3600)
    assert _rows(engine.execute(stmt)) == want
    _write_ts(f, second)
    _age(f, 1800)
    df = engine.execute(stmt)
    assert engine.spark.table("ts_t").schema["ts"].dataType \
        .simpleString() == "timestamp"
    assert _rows(df) == want


def test_nanos_detection_only_under_the_memo_key():
    """TIMESTAMP(NANOS) detection runs only inside `read_parquet`, so
    its answer is memoized under the listing and conf digest and no
    second, path-keyed cache can go stale on a rewrite."""
    assert_used_only_in(
        "_nanos_timestamp_cols", {("sources/registry.py", "read_parquet")},
        "nanos detection outside read_parquet escapes the memo's key")


@pytest.mark.parametrize("prior", [None, "false", "true"])
def test_nanos_read_keeps_the_session_conf(spark, engine, tmp_path, prior):
    """`nanosAsLong` is on only while a TIMESTAMP(NANOS) schema is
    inferred: after the load the session holds its prior value (unset
    stays unset), a memo hit still runs no job, and the timestamps read
    the same."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    f = str(tmp_path / "ns.parquet")
    _write_ts(f, "ns")
    _age(f, 3600)
    load = f"load parquet.`{f}` as ts_t;"
    read = "select k, unix_timestamp(ts) as s from ts_t as ts_out;"
    want = [(0, 1700000000), (1, 1700000060)]
    if prior is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, prior)
    try:
        _, n_fresh = _jobs(spark, lambda: engine.execute(load))
        assert spark.conf.getAll.get(key) == prior
        assert _rows(engine.execute(read)) == want
        _, n_hit = _jobs(spark, lambda: engine.execute(load))
        assert n_fresh >= 1 and n_hit == 0
        assert spark.conf.getAll.get(key) == prior
        assert _rows(engine.execute(read)) == want
    finally:
        spark.conf.unset(key)


def test_stream_load_parquet_reads_nanos(engine, tmp_path):
    """`load parquet` under `set streamName` peeks its schema through
    `read_parquet` and its nanos shim, so a directory of
    TIMESTAMP(NANOS) files streams timestamps instead of failing the
    peek with PARQUET_TYPE_ILLEGAL."""
    d = tmp_path / "ns_dir"
    d.mkdir()
    _write_ts(str(d / "a.parquet"), "ns")
    engine.execute(f"""
    set streamName = "ns_stream";
    load parquet.`{d}` as ns_src;
    select k, unix_timestamp(ts) as s from ns_src as ns_out;
    save append ns_out as memory.`` where checkpointLocation="{tmp_path}/ck"
        and duration="0" and queryName="ns_stream";
    """)
    assert engine.spark.table("ns_src").schema["ts"].dataType \
        .simpleString() == "timestamp"
    q = engine.context.jobs["ns_stream"]
    try:
        q.processAllAvailable()
        rows = engine.spark.sql("select * from ns_stream").collect()
        assert sorted(tuple(r) for r in rows) == [(0, 1700000000),
                                                  (1, 1700000060)]
    finally:
        q.stop()
