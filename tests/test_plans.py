"""Physical-plan quality gates (the 100 TB story, enforced):
filters reach the parquet scan, projections prune columns, small dims
broadcast, JVM-only operators keep Python out of the hot path."""

import re

import pytest

from conftest import assert_no_python


def _plan(spark, name, sf_dir):
    import __spark_entry__ as em
    df = em.queries()[name](spark, sf_dir)
    je = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return je.explainString(mode)


def _assert_spread_only(plan):
    """Map-only ops now spread a single-partition small-file scan via
    ensure_parallelism (optimization round 11): the ONLY exchange
    allowed is that one guarded round-robin spread — which is a no-op
    at scale, where the scan already yields partitions >> cores.  The
    load-bearing claims stay pinned: no hash/range partitioning (no
    keyed shuffle), no Python.
    """
    import re as _re
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    n_rr = len(_re.findall(r"REPARTITION_BY_NUM|RoundRobinPartitioning",
                           plan))
    n_ex = len(_re.findall(r"\(\d+\) Exchange", plan))
    assert n_ex <= 1 and (n_ex == 0 or n_rr >= 1), plan



def test_q6_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(spark, "q6_revenue_forecast", sf_dir)
    pushed = " ".join(re.findall(r"PushedFilters: \[[^\]]*\]", plan))
    assert "l_shipdate" in pushed and "l_discount" in pushed
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    # only the 4 referenced lineitem columns are read, not all 11
    assert cols == {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"}


def test_q5_broadcasts_small_dims(spark, sf_dir):
    plan = _plan(spark, "q5_local_supplier", sf_dir)
    assert "BroadcastHashJoin" in plan


def test_q1_partial_aggregation(spark, sf_dir):
    plan = _plan(spark, "q1_pricing_summary", sf_dir)
    # map-side combine: partial_ agg functions before the exchange
    assert "partial_sum" in plan or "partial_count" in plan


def test_token_count_no_python_in_plan(spark, sf_dir):
    plan = _plan(spark, "token_count", sf_dir)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pii_redact_no_python_in_plan(spark, sf_dir):
    plan = _plan(spark, "pii_redact", sf_dir)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_exact_dedup_single_shuffle(spark, sf_dir):
    plan = _plan(spark, "exact_dedup", sf_dir)
    # dedup-by-key needs exactly one hash-partitioning exchange
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 1


def test_partitioned_save_prunes_on_read(engine, sf_dir, tmp_path):
    """save ... partitionBy → a partition-column predicate prunes the
    scan to matching directories (PartitionFilters, not a full scan)."""
    engine.execute(f"""
    load parquet.`{sf_dir}/orders.parquet` as orders_p;
    save overwrite orders_p as parquet.`{tmp_path}/po` partitionBy o_orderstatus;
    """)
    df = engine.execute(f"""
    load parquet.`{tmp_path}/po` as po;
    select count(*) as n from po where o_orderstatus = 'F' as out;
    """)
    je = df._jdf.queryExecution()
    plan = je.executedPlan().toString()
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "o_orderstatus" in m.group(1), plan[:2000]
    assert df.first()["n"] > 0


def test_embedding_dedup_fallback_no_cartesian(engine, sf_dir):
    """The above-broadcast-limit path must be a banded candidate join —
    never a CartesianProduct / BroadcastNestedLoopJoin (the O(N²) cliff
    the round-1 verdict flagged)."""
    df = engine.execute(f"""
    load parquet.`{sf_dir}/embeddings.parquet` as emb;
    run emb as EmbeddingDedup.`` where threshold="0.9" and
        broadcastLimit="0" and eagerCache="false" as out;
    """)
    je = df._jdf.queryExecution()
    plan = je.executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]


def test_versioned_parquet_scan_keeps_pushdown(spark, sf_dir, tmp_path):
    """Time travel must not cost the optimizer anything: a filtered read
    of a versionedParquet snapshot still pushes the predicate and prunes
    columns at the parquet scan."""
    from streamingpro_spark import Engine
    eng = Engine(spark)
    lake = tmp_path / "plan_lake"
    eng.execute(f"""
    load parquet.`{sf_dir}/orders.parquet` as ord_vp;
    save overwrite ord_vp as versionedParquet.`{lake}`;
    select * from ord_vp limit 100 as ord_vp2;
    save append ord_vp2 as versionedParquet.`{lake}`;
    """)
    df = eng.execute(f"""
    load versionedParquet.`{lake}` as snap;
    select o_orderkey from snap where o_orderkey < 50 as out;
    """)
    je = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    plan = je.explainString(mode)
    pushed = " ".join(re.findall(r"PushedFilters: \[[^\]]*\]", plan))
    assert "o_orderkey" in pushed
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"o_orderkey"}


def test_exact_substr_dedup_jvm_only(spark, sf_dir):
    # window hashing + coverage excision are codegen expressions; the
    # only exchanges are the count groupBy / count join / per-doc re-agg
    plan = _plan(spark, "exact_substr_dedup", sf_dir)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_paragraph_dedup_jvm_only(spark, sf_dir):
    plan = _plan(spark, "paragraph_dedup", sf_dir)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_c4_quality_filter_map_only(spark, sf_dir):
    # per-row line filtering: no Python, and no exchange at all before
    # the harness's compare-order sort
    import __spark_entry__ as em
    df = em.base_queries()["c4_quality_filter"](spark, sf_dir)
    je = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = je.explainString(mode)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    _assert_spread_only(plan)


def test_text_normalize_map_only(spark, sf_dir):
    # translate/regexp_replace/lower chain: no Python, no exchange
    import __spark_entry__ as em
    df = em.base_queries()["text_normalize"](spark, sf_dir)
    je = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = je.explainString(mode)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    _assert_spread_only(plan)


def test_gopher_quality_filter_map_only(spark, sf_dir):
    # per-row word/line metrics: no Python, no exchange — a narrow map
    # over the corpus scan, same posture as C4QualityFilter
    import __spark_entry__ as em
    df = em.base_queries()["gopher_quality_filter"](spark, sf_dir)
    je = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = je.explainString(mode)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    _assert_spread_only(plan)


def test_url_filter_map_only(spark, sf_dir):
    # URL parse + blocklist flags are pure codegen: no Python, no
    # exchange — a narrow map over the corpus scan
    import __spark_entry__ as em
    df = em.base_queries()["url_filter"](spark, sf_dir)
    je = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = je.explainString(mode)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    _assert_spread_only(plan)


def test_bloom_dedup_broadcast_anti_join(engine, sf_dir):
    """BloomFilterDedup's final anti-join must broadcast the confirmed
    dup keys (true-dup-sized), never shuffle the input corpus against
    the ref; the bloom build reduces to a bit_or aggregate.  Since
    round 12 filter mode eager-materializes its output (the declared
    query's final plan is just a scan of the checkpointed RDD), so the
    gate runs the same shape with eagerCache="false" to see the lazy
    join plan the materialization executes."""
    df = engine.execute(f"""
    load parquet.`{sf_dir}/documents.parquet` as bd_docs;
    select doc_id, text from bd_docs where doc_id % 3 <> 0 as bd_ref;
    select doc_id, text from bd_docs where doc_id % 2 = 0 as bd_new;
    run bd_new as BloomFilterDedup.`` where refTable="bd_ref"
        and eagerCache="false" as bd_out;
    select doc_id from bd_out as bd_final;
    """)
    je = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution \
        .ExplainMode.fromString("formatted")
    plan = je.explainString(mode)
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan), plan
    # the probe side stays a map stage: no SortMergeJoin against ref
    assert "SortMergeJoin" not in plan, plan


def test_minhash_verify_single_intersect_plan(engine, sf_dir):
    """MinHashDedup's verify step computes each pair's shingle
    intersection once: without the barrier the optimizer inlined
    `__inter` into the jaccard filter (twice) and the projection."""
    df = engine.execute(f"""
    load parquet.`{sf_dir}/documents.parquet` as mi_docs;
    select doc_id, text from mi_docs where doc_id < 200 as mi_in;
    run mi_in as MinHashDedup.`` where threshold="0.5"
        and eagerCache="false" as mi_out;
    """)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("array_intersect(") == 1, plan


def test_deterministic_shard_parallel_walk_plan(spark, sf_dir):
    """Layout = hash-partition exchanges only (ONE corpus-sized, on
    (shard, bucket); the bucket-offset side aggregates to
    |shards|x|buckets| rows and is broadcast back); no Python, and no
    global sort — the orderBy(rand()) anti-pattern this operator
    replaces would show a rangepartitioning exchange, and a naive
    per-shard rank would put the whole corpus through a
    partitionBy(shard)-only window (one task per shard at 100 TB)."""
    import re
    import __spark_entry__ as em
    df = em.base_queries()["deterministic_shard"](spark, sf_dir)
    je = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = je.explainString(mode)
    assert_no_python(df)
    assert "rangepartitioning" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # every exchange is a hash partition or the broadcast back
    n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
    n_bc = len(re.findall(r"\(\d+\) BroadcastExchange", plan))
    assert n_ex <= 3 and n_bc == 1, plan
    # the corpus window is keyed by (shard, bucket), never shard alone
    win = [ln for ln in plan.splitlines()
           if "row_number()" in ln and "windowspecdefinition" in ln]
    assert win and all("__bv" in ln for ln in win), win


def test_deterministic_shard_bucketed_curriculum_plan(spark, sf_dir):
    """curriculumMode="bucketed" must keep the parallel-walk plan shape
    on the ORDERED path too: hash exchanges only (no rangepartitioning
    — the global-sort anti-pattern), one broadcast for the bucket
    offsets, no Python, and the rank window keyed by (shard, __qb),
    never shard alone (exact mode's one-task-per-shard shape is the
    documented trade-off this mode removes)."""
    import re
    from streamingpro_spark.engine import Engine
    eng = Engine(spark)
    df = eng.execute(f"""
    load parquet.`{sf_dir}/documents.parquet` as dsb_docs;
    run dsb_docs as QualityScore.`` as dsb_scored;
    run dsb_scored as DeterministicShard.`` where numShards="8"
        and orderCol="quality_score" and curriculumMode="bucketed"
        and layoutBuckets="8" as out;
    """)
    je = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    plan = je.explainString(mode)
    assert "rangepartitioning" not in plan, plan
    assert_no_python(df)
    n_bc = len(re.findall(r"\(\d+\) BroadcastExchange", plan))
    assert n_bc == 1, plan
    win = [ln for ln in plan.splitlines()
           if "row_number()" in ln and "windowspecdefinition" in ln]
    assert win and all("__qb" in ln for ln in win), win


def test_grouped_split_map_only(spark, sf_dir):
    """GroupedSplit is a pure map: one md5 hash + a CASE chain in
    whole-stage codegen — ZERO exchanges, no Python (a split that
    shuffles or collects would be a scale bug, not a feature)."""
    import __spark_entry__ as em
    df = em.base_queries()["grouped_split"](spark, sf_dir)
    je = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    plan = je.explainString(mode)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan, plan


def test_layout_audit_single_agg_plan(spark, sf_dir):
    """LayoutAudit over an existing layout table is map-only boolean
    expressions + ONE groupBy(shard) aggregation (countDistinct's
    standard two-phase partial-distinct): hash exchanges only, no
    window, no join, no Python, no range sort."""
    import re
    from streamingpro_spark.engine import Engine
    eng = Engine(spark)
    # a pre-materialized layout shape straight off a scan (shard /
    # shard_pos as plain columns), so the plan is the AUDIT's alone
    df = eng.execute(f"""
    load parquet.`{sf_dir}/documents.parquet` as pl_docs;
    select doc_id, cast(doc_id % 16 as int) as shard,
           cast(doc_id as long) as shard_pos from pl_docs as pl_lay;
    run pl_lay as LayoutAudit.`` where numShards="16" as out;
    """)
    je = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    plan = je.explainString(mode)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "rangepartitioning" not in plan, plan
    assert "Join" not in plan and "Window" not in plan, plan
    # two-phase distinct = at most 2 hash exchanges, both tiny-keyed
    n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_ex <= 2, plan


def test_lake_diff_pruned_scans_one_join(spark, sf_dir, tmp_path):
    """LakeDiff = two COLUMN-PRUNED scans (key + digest cols only -
    parquet never reads the rest), map-side md5 digests, per-side
    digest aggregations, ONE full-outer join keyed by the key column.
    No Python, no window, no range sort."""
    import re
    from streamingpro_spark.engine import Engine
    eng = Engine(spark)
    lake = tmp_path / "pl_lake"
    eng.execute(f"""
    load parquet.`{sf_dir}/documents.parquet` as pl_docs;
    select doc_id, source, text from pl_docs as pl_v0;
    save overwrite pl_v0 as versionedParquet.`{lake}`;
    """)
    df = eng.execute(f"""
    select doc_id, source, text from pl_docs where doc_id % 2 = 0
    as pl_cand;
    run pl_cand as LakeDiff.`{lake}` where digestCols="source,text"
        as out;
    """)
    je = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    plan = je.explainString(mode)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "rangepartitioning" not in plan, plan
    assert "Window" not in plan, plan
    # exactly one join, and it is the keyed full-outer
    joins = re.findall(r"\(\d+\) (\w*Join\w*)", plan)
    assert len(joins) == 1, (joins, plan)
    assert "FullOuter" in plan, plan
    # the documents scan is pruned to the three needed columns: text
    # is needed (digest), but e.g. n_tokens/n_chars/lang must not be
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans, plan
    assert all("n_chars" not in ln and "lang" not in ln
               for ln in scans), scans


def test_main_content_extract_map_only(spark, sf_dir):
    """MainContentExtract is pure per-row regex + higher-order-list
    expressions: ZERO exchanges, no Python — extraction rides the scan
    (the operator exists to REPLACE the row-at-a-time
    crawler_auto_extract_body UDF in curation chains)."""
    import __spark_entry__ as em
    df = em.base_queries()["main_content_extract"](spark, sf_dir)
    je = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    plan = je.explainString(mode)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    _assert_spread_only(plan)


def _filter_conditions(optimized_plan_str):
    """Every Filter node's condition in a logical-plan tree string."""
    return re.findall(r"Filter \((.*)\)\n", optimized_plan_str + "\n")


def test_quality_filter_pushdown_barrier(engine):
    """The keep-filter over ET-computed metric columns must stay ABOVE
    the metric projection (optimization round 12): without the
    CollectMetrics barrier, PushDownPredicates inlines every metric —
    and the whole upstream normalize chain — once per predicate into a
    single interpreted Filter that then sinks below the parallelism
    spread.  Pin: barrier node present, and no Filter condition
    re-derives a metric (no split/rlike/regexp in any condition)."""
    doc = ("Plenty of good words flow here in this long test sentence "
           "and more words to pass the gate today.")
    for script, tag in [
        (f"""select '{doc}' as text as t;
         run t as GopherQualityFilter.`` where mode="filter" as out;""",
         "gopher"),
        (f"""select '{doc}' as text as t;
         run t as C4QualityFilter.`` where mode="filter" as out;""",
         "c4"),
        ("""select 'x' as text, 'https://ok.org/a.html' as url as t;
         run t as UrlFilter.`` where mode="filter" as out;""",
         "url"),
    ]:
        df = engine.execute(script)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert f"__barrier_{tag}" in plan, plan[:2000]
        for cond in _filter_conditions(plan):
            assert "split(" not in cond, (tag, cond)
            assert "RLIKE" not in cond, (tag, cond)
            assert "regexp" not in cond.lower(), (tag, cond)


def test_pushdown_barrier_consumer_where(engine):
    """Annotate mode + a consumer WHERE on the flags: the consumer's
    filter also stays above the barrier instead of inlining the parse
    chain per flag."""
    df = engine.execute("""
    select 'x' as text, 'https://ok.org/a.html' as url as t2;
    run t2 as UrlFilter.`` as out2;
    select url from out2 where keep as final2;
    """)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "__barrier_url" in plan, plan[:2000]
    for cond in _filter_conditions(plan):
        assert "parse_url" not in cond and "regexp" not in cond.lower(), cond


def test_pushdown_barrier_names_are_counted(spark):
    """Barrier names are `__barrier_<tag>_<n>` from a process-wide
    counter — no random suffix, so a script's plan text is the same in
    every fresh process — and two barriers over one input still
    analyze inside one plan (self-union)."""
    from streamingpro_spark.operators.base import pushdown_barrier
    df = spark.range(5)
    b1, b2 = pushdown_barrier(df, "t"), pushdown_barrier(df, "t")
    names = [re.search(r"__barrier_t_\w+", b._jdf.queryExecution()
                       .analyzed().toString()).group(0) for b in (b1, b2)]
    n1, n2 = (int(re.fullmatch(r"__barrier_t_(\d+)", n).group(1))
              for n in names)
    assert n2 > n1, names
    assert b1.unionByName(b2).count() == 10
    assert b1.unionByName(b1).count() == 10


def _plan_nodes(jplan):
    """(node, ancestors) for every node of a JVM logical plan."""
    stack = [(jplan, ())]
    while stack:
        node, anc = stack.pop()
        yield node, anc
        kids = node.children()
        for i in range(kids.size()):
            stack.append((kids.apply(i), anc + (node,)))


def _one_line(node):
    return node.simpleString(1000)


def test_minhash_intra_batch_single_bucket_pass(engine, sf_dir):
    """refTable + intraBatch: cross and self pairs come out of ONE
    in-row expansion of the bucket aggregate — no Union above it, so
    the guard window pair over (__band, __bh) and the collect_list
    aggregate each appear exactly once (a per-kind Union duplicated
    both, sharing only the exchange)."""
    df = engine.execute(f"""
    load parquet.`{sf_dir}/documents.parquet` as documents;
    select doc_id, text from documents where doc_id % 5 != 0 as mh_ref;
    select doc_id, text from documents where doc_id % 5 = 0 as mh_batch;
    run mh_batch as MinHashDedup.`` where refTable="mh_ref"
        and intraBatch="true" and eagerCache="false" as out;
    """)
    plan = df._jdf.queryExecution().optimizedPlan()
    nodes = list(_plan_nodes(plan))
    aggs = [(n, anc) for n, anc in nodes if n.nodeName() == "Aggregate"
            and "collect_list" in _one_line(n)]
    assert len(aggs) == 1, [_one_line(n) for n, _ in aggs]
    assert not any(a.nodeName() == "Union" for a in aggs[0][1]), \
        plan.toString()[:4000]
    guards = [re.findall(r"AS (__n[ab])#", _one_line(n))
              for n, _ in nodes if n.nodeName() == "Window"
              and "__band" in _one_line(n)]
    assert sorted(sum(guards, [])) == ["__na", "__nb"], guards


@pytest.mark.parametrize("script, n_joins", [
    ("""load parquet.`{sf}/embeddings.parquet` as emb;
    run emb as EmbeddingDedup.`` where threshold="0.9" and
        broadcastLimit="0" and eagerCache="false" as out;""", 2),
    ("""load parquet.`{sf}/documents.parquet` as documents;
    select doc_id, cast(doc_id % 50 as long) * 2654435761 as h
    from documents as img_h;
    run img_h as ImageDedup.`` where hashCol="h" and maxHamming="2"
        and eagerCache="false" as out;""", 0),
], ids=["embedding_dedup_lsh", "image_dedup_banded"])
def test_lsh_pair_paths_have_no_bucket_join(engine, sf_dir, script, n_joins):
    """EmbeddingDedup's LSH path and ImageDedup's banded path pair
    through the shared bucket aggregate: no join is keyed on a bucket
    column.  EmbeddingDedup's two joins bring each pair's vectors back
    by id for the exact verify; ImageDedup's pairs carry their hashes
    and join nothing."""
    df = engine.execute(script.format(sf=sf_dir))
    plan = df._jdf.queryExecution().optimizedPlan()
    joins = [_one_line(n) for n, _ in _plan_nodes(plan)
             if n.nodeName() == "Join"]
    assert len(joins) == n_joins, plan.toString()[:3000]
    for j in joins:
        assert not re.search(r"\b(__band|__bh|__t|__sig)#", j), j
    assert any("collect_list" in _one_line(n)
               for n, _ in _plan_nodes(plan)), plan.toString()[:3000]
