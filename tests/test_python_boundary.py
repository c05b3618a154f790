"""No Python worker on the JVM-only paths: `base.local_table` builds
driver-side tables as LocalRelations, BloomFilterDedup probes its bitmap
with broadcast joins, and no `createDataFrame` over Python rows is left
in the engine outside `local_table`."""

import math

import pytest

from conftest import assert_no_python, assert_used_only_in


# ---------------------------------------------------------------------------
# local_table
# ---------------------------------------------------------------------------

_DDL = ("i int, b bigint, d double, f boolean, s string, "
        "sa array<string>, da array<double>")
_ROWS = [(1, 1 << 40, 1.5, True, "x", ["p", None], [1.0, None]),
         (None, None, None, None, None, None, None),
         (-3, -1, -0.25, False, "", [], [])]


@pytest.mark.parametrize("arrow", ["true", "false"])
@pytest.mark.parametrize("rows", [_ROWS, []], ids=["rows", "empty"])
def test_local_table_matches_create_dataframe(spark, rows, arrow):
    """Same schema and rows as `createDataFrame(rows, ddl)`, whatever the
    Arrow conf says, and the plan is a LocalRelation (no PythonRDD)."""
    from streamingpro_spark.operators.base import local_table
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, arrow)
    try:
        got = local_table(spark, rows, _DDL)
        want = spark.createDataFrame(rows, _DDL)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
        plan = got._jdf.queryExecution().analyzed()
        assert plan.getClass().getSimpleName() == "LocalRelation", \
            plan.toString()
        assert_no_python(got)
    finally:
        spark.conf.set(key, old)


def test_no_create_dataframe_outside_local_table():
    """Every driver-built table goes through `base.local_table`.  The
    allowlist holds the calls whose data is not driver-side Python
    rows, each with its reason."""
    allow = {
        ("operators/corpus_ops.py", "RowMatrix.train"):
            "mllib's similarity entries are an RDD, not driver rows",
        ("operators/infra_cmds.py", "PythonCommand.train"):
            "the user's `output_df` is a pandas DataFrame",
        ("operators/base.py", "local_table"):
            "the helper itself passes a pyarrow.Table",
    }
    assert_used_only_in("createDataFrame", allow,
                        "createDataFrame over Python rows plans a "
                        "PythonRDD; use base.local_table")


# ---------------------------------------------------------------------------
# BloomFilterDedup: bit-identity with the NumPy kernel it replaced
# ---------------------------------------------------------------------------

def _bloom_reference(ref, new, fpp, n_exp):
    """{doc_id: might_dup} from a NumPy bitmap over the operator's own
    sizing and positions, `pmod(xxhash64("bf{j}:", text), m)`."""
    import numpy as np
    from pyspark.sql import functions as F
    m = max(64, int(math.ceil(-n_exp * math.log(fpp) / math.log(2) ** 2)))
    m -= m % 64
    k = max(1, round(m / n_exp * math.log(2)))

    def pos(df):
        return df.select("*", F.array(*[
            F.pmod(F.xxhash64(F.lit(f"bf{j}:"), F.col("text")), F.lit(m))
            for j in range(k)]).alias("__pos")).collect()

    bitmap = np.zeros(m // 64, dtype=np.uint64)
    for r in pos(ref.filter(F.col("text").isNotNull())):
        p = np.asarray(r["__pos"], dtype=np.int64)
        np.bitwise_or.at(bitmap, p >> 6,
                         np.left_shift(np.uint64(1), (p & 63).astype(np.uint64)))
    out = {}
    for r in pos(new):
        if r["text"] is None:
            out[r["doc_id"]] = False
            continue
        p = np.asarray(r["__pos"], dtype=np.int64)
        bits = (bitmap[p >> 6] >> (p & 63).astype(np.uint64)) & np.uint64(1)
        out[r["doc_id"]] = bool(bits.all())
    return out


def _bloom(df, ref_view, **params):
    from streamingpro_spark.operators.dedup import BloomFilterDedup
    return BloomFilterDedup().train(
        df, "", {"refTable": ref_view,
                 **{k: str(v) for k, v in params.items()}})


def _bloom_inputs(spark, tag):
    ref = spark.createDataFrame(
        [(i, f"reference text {i}") for i in range(300)] + [(999, None)],
        "doc_id bigint, text string")
    new = spark.createDataFrame(
        [(1000 + i, f"reference text {i}") for i in range(0, 300, 3)]
        + [(2000 + i, f"fresh text {i}") for i in range(300)]
        + [(3000, None)],
        "doc_id bigint, text string")
    ref.createOrReplaceTempView(f"bf_ref_{tag}")
    return ref, new, f"bf_ref_{tag}"


@pytest.mark.parametrize("fpp,sized", [(0.3, True), (0.01, True),
                                       (0.01, False)])
def test_bloom_annotate_bit_identical(spark, fpp, sized):
    """Annotate mode equals the NumPy kernel row for row: members are
    True, NULL content is False, and at fpp=0.3 the false positives
    are the same ones."""
    ref, new, view = _bloom_inputs(spark, f"{int(fpp * 100)}{sized}")
    n_exp = 300                                  # non-null ref rows
    params = {"mode": "annotate", "fpp": fpp}
    if sized:
        params["expectedItems"] = n_exp
    got = {r["doc_id"]: r["might_dup"]
           for r in _bloom(new, view, **params).collect()}
    want = _bloom_reference(ref, new, fpp, n_exp)
    assert got == want
    assert got[3000] is False
    assert all(got[1000 + i] for i in range(0, 300, 3))
    if fpp == 0.3:
        assert any(got[2000 + i] for i in range(300))   # false positives


def test_bloom_annotate_empty_input(spark):
    _, new, view = _bloom_inputs(spark, "empty")
    out = _bloom(new.limit(0), view, mode="annotate")
    assert out.columns == ["doc_id", "text", "might_dup"]
    assert dict(out.dtypes)["might_dup"] == "boolean"
    assert out.collect() == []


def test_bloom_annotate_replaces_might_dup_column(spark):
    """An input `might_dup` column is replaced in place, as
    `withColumn` does."""
    from pyspark.sql import functions as F
    ref, new, view = _bloom_inputs(spark, "md")
    stale = new.select("doc_id", F.lit("stale").alias("might_dup"), "text")
    out = _bloom(stale, view, mode="annotate", fpp=0.3, expectedItems=300)
    assert out.columns == ["doc_id", "might_dup", "text"]
    got = {r["doc_id"]: r["might_dup"] for r in out.collect()}
    assert got == _bloom_reference(ref, new, 0.3, 300)


def test_bloom_refuses_scratch_columns(spark):
    _, new, view = _bloom_inputs(spark, "scr")
    with pytest.raises(ValueError, match=r"__bf_p0.*rename them"):
        _bloom(new.withColumnRenamed("doc_id", "__bf_p0"), view,
               mode="annotate")


def test_bloom_rejects_negative_num_hashes(spark, engine):
    """A negative k used to build no positions at all, so every
    non-null row was `might_dup`.  It fails before any job; 0 still
    derives k."""
    sc = spark.sparkContext
    sc.setJobGroup("bf_neg_k", "negative numHashes")
    try:
        with pytest.raises(Exception, match="numHashes=-1"):
            engine.execute("""
            select 1 as doc_id, "x" as text as bk_ref;
            select 2 as doc_id, "x" as text as bk_new;
            run bk_new as BloomFilterDedup.`` where refTable="bk_ref"
            and mode="annotate" and numHashes="-1" as bk_bad;
            """)
        assert list(sc.statusTracker().getJobIdsForGroup("bf_neg_k")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    df = engine.execute("""
    select 1 as doc_id, "x" as text as bk_ref0;
    select 2 as doc_id, "y" as text as bk_new0;
    run bk_new0 as BloomFilterDedup.`` where refTable="bk_ref0"
    and mode="annotate" and numHashes="0" as bk_ok;
    """)
    assert [r["might_dup"] for r in df.collect()] == [False]


# ---------------------------------------------------------------------------
# plan pins: no Python worker on the lake path
# ---------------------------------------------------------------------------

_BLOOM_VIEWS = """
load parquet.`{sf}/documents.parquet` as pb_docs;
select doc_id, text from pb_docs where doc_id % 3 <> 0 as pb_ref;
select doc_id, text from pb_docs where doc_id % 2 = 0 as pb_new;
"""


def test_bloom_annotate_plan_no_python(engine, sf_dir):
    """Annotate mode is JVM-only, and its k word lookups share one
    BroadcastExchange (the other k−1 are ReusedExchange)."""
    import re
    df = engine.execute(_BLOOM_VIEWS.format(sf=sf_dir) + """
    run pb_new as BloomFilterDedup.`` where refTable="pb_ref"
        and mode="annotate" and numHashes="5" as pb_ann;
    """)
    assert_no_python(df)
    df.collect()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution \
        .ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(mode)
    final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    assert len(re.findall(r"\bBroadcastExchange \(", final)) == 1, final
    assert len(re.findall(r"\bReusedExchange \(", final)) == 4, final


def test_bloom_filter_plan_no_python(engine, sf_dir):
    df = engine.execute(_BLOOM_VIEWS.format(sf=sf_dir) + """
    run pb_new as BloomFilterDedup.`` where refTable="pb_ref"
        and eagerCache="false" as pb_out;
    """)
    assert_no_python(df)


def test_deterministic_shard_ref_table_plan_no_python(engine, sf_dir):
    """The refTable offsets are a driver-built table: a LocalRelation,
    not a PythonRDD scanned on every append."""
    df = engine.execute(f"""
    load parquet.`{sf_dir}/documents.parquet` as ds_docs;
    select doc_id, text from ds_docs where doc_id % 2 = 0 as ds_day0;
    run ds_day0 as DeterministicShard.`` where numShards="4" as ds_l0;
    select doc_id, shard, shard_pos from ds_l0 as ds_prev;
    select doc_id, text from ds_docs where doc_id % 2 = 1 as ds_day1;
    run ds_day1 as DeterministicShard.`` where numShards="4"
        and refTable="ds_prev" as ds_l1;
    """)
    assert_no_python(df)
