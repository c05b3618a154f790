"""LLM-pipeline operators beyond dedup/similarity: NgramLMScore,
StratifiedSampleExt, SequencePack, BPETokenizer
(streamingpro_spark/operators/pipeline_ops.py)."""

import pytest


# ---------------------------------------------------------------------------
# NgramLMScore
# ---------------------------------------------------------------------------

def _lm_rows(engine, extra=""):
    df = engine.execute(f"""
    select * from (values
      (0, 'the cat sat on the mat the cat sat on the mat'),
      (1, 'the cat sat on the mat the cat sat on the mat'),
      (2, 'the cat sat on the mat the cat sat on the mat'),
      (3, 'zebra quark fjord vex numb glyph wizard jumps'))
      v(doc_id, text) as docs;
    run docs as NgramLMScore.`` where idCol="doc_id" and vocabSize="50"
        {extra} as output;
    select * from output as output;
    """)
    return {r["doc_id"]: r for r in df.collect()}


def test_ngram_lm_repetitive_scores_lower(engine):
    """Docs made of corpus-frequent transitions score LOWER (more
    predictable) than a doc of corpus-rare words."""
    rows = _lm_rows(engine)
    assert rows[0]["lm_score"] == rows[1]["lm_score"]  # identical docs
    assert rows[0]["lm_score"] < rows[3]["lm_score"]
    assert rows[0]["n_bigrams"] == 11  # 12 tokens -> 11 bigrams


def test_ngram_lm_short_docs_null_score(engine):
    df = engine.execute("""
    select * from (values (0, 'hello'), (1, 'a b a b')) v(doc_id, text) as d;
    run d as NgramLMScore.`` as output;
    """)
    rows = {r["doc_id"]: r for r in df.collect()}
    assert rows[0]["n_bigrams"] == 0 and rows[0]["lm_score"] is None
    assert rows[1]["n_bigrams"] == 3 and rows[1]["lm_score"] is not None


def test_ngram_lm_train_fraction_scores_all_docs(engine):
    """trainFraction < 1 builds counts on a hash-sample but still scores
    EVERY doc; unseen bigrams take the add-k floor instead of failing."""
    rows = _lm_rows(engine, 'and trainFraction="0.5"')
    assert set(rows) == {0, 1, 2, 3}
    scored = [r for r in rows.values() if r["lm_score"] is not None]
    assert len(scored) == 4


# ---------------------------------------------------------------------------
# StratifiedSampleExt
# ---------------------------------------------------------------------------

def _strat(engine, where):
    return engine.execute(f"""
    select id as doc_id,
           case when id % 2 = 0 then 'web' else 'code' end as src,
           'x' as text
    from range(200) as docs;
    run docs as StratifiedSampleExt.`` where strataCol="src" {where} as output;
    """).collect()


def test_stratified_zero_and_one(engine):
    rows = _strat(engine, 'and defaultFraction="1.0" and ratio.web="0.0"')
    srcs = {r["src"] for r in rows}
    assert srcs == {"code"}          # web fully dropped
    assert len(rows) == 100          # code fully kept


def test_stratified_deterministic_and_nested(engine):
    small = {r["doc_id"] for r in _strat(engine, 'and defaultFraction="0.3"')}
    small2 = {r["doc_id"] for r in _strat(engine, 'and defaultFraction="0.3"')}
    big = {r["doc_id"] for r in _strat(engine, 'and defaultFraction="0.6"')}
    assert small == small2           # reproducible, no RNG
    assert small <= big              # hash gates nest: superset property
    assert 30 <= len(small) <= 90    # ~60 of 200 at 0.3


def test_stratified_map_only_plan(spark, sf_dir):
    """The sample filter stays keyed-shuffle-free: the only exchange
    allowed is the guarded ensure_parallelism round-robin spread of a
    single-partition small-file scan (a no-op at scale — optimization
    round 11); no hash/range partitioning, no Python."""
    import re
    import __spark_entry__ as em
    eng = em._engine(spark)
    df = eng.execute(f"""
    load parquet.`{sf_dir}/documents.parquet` as documents;
    run documents as StratifiedSampleExt.`` where defaultFraction="0.5"
        as output;
    """)
    je = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    plan = je.explainString(mode)
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ---------------------------------------------------------------------------
# SequencePack
# ---------------------------------------------------------------------------

def test_sequence_pack_chunk_offsets_contiguous(engine):
    rows = engine.execute("""
    select id as doc_id, repeat('w ', 100 + cast(id as int)) as text
    from range(40) as docs;
    run docs as SequencePack.`` where budget="256" and numBuckets="4"
        and mode="chunk" as output;
    """).collect()
    by_bucket = {}
    for r in sorted(rows, key=lambda r: (r["bucket"], r["doc_id"])):
        nxt = by_bucket.get(r["bucket"], 0)
        assert r["start_offset"] == nxt        # end-to-end layout, no gaps
        assert r["seq_first"] == r["start_offset"] // 256
        assert r["seq_last"] == (r["start_offset"] + r["n_tokens"] - 1) // 256
        by_bucket[r["bucket"]] = nxt + r["n_tokens"]


def test_sequence_pack_greedy_matches_simulation(engine):
    rows = engine.execute("""
    select id as doc_id, repeat('w ', 50 + cast(id as int) * 7 % 90) as text
    from range(60) as docs;
    run docs as SequencePack.`` where budget="200" and numBuckets="3"
        and mode="greedy" as output;
    """).collect()
    by_bucket: dict = {}
    for r in sorted(rows, key=lambda r: (r["bucket"], r["doc_id"])):
        by_bucket.setdefault(r["bucket"], []).append(r)
    for bucket_rows in by_bucket.values():
        seq, used = 0, 0
        for r in bucket_rows:
            n = r["n_tokens"]
            if used > 0 and used + n > 200:
                seq, used = seq + 1, 0
            assert r["seq_id"] == seq
            used += n


def test_sequence_pack_greedy_oversized_doc_own_sequence(engine):
    rows = engine.execute("""
    select * from (values (0, repeat('w ', 500)), (1, 'a b'), (2, 'c d'))
      v(doc_id, text) as docs;
    run docs as SequencePack.`` where budget="100" and numBuckets="1"
        and mode="greedy" as output;
    """).collect()
    rows = sorted(rows, key=lambda r: r["doc_id"])
    assert rows[0]["seq_id"] == 0            # oversized doc alone in seq 0
    assert rows[1]["seq_id"] == rows[2]["seq_id"] == 1


# ---------------------------------------------------------------------------
# BPETokenizer
# ---------------------------------------------------------------------------

def test_bpe_train_merges_most_frequent_pair_first():
    from streamingpro_spark.operators.pipeline_ops import (_bpe_apply,
                                                           _bpe_train)
    merges = _bpe_train([("aaab", 10), ("aab", 5)], 2)
    assert merges[0] == ("a", "a")           # 'aa' appears 10*2 + 5 times
    ranks = {p: i for i, p in enumerate(merges)}
    toks = _bpe_apply("aaab", ranks)
    assert "".join(toks).replace("</w>", "") == "aaab"  # lossless


def test_bpe_roundtrip_and_register(engine, tmp_path):
    """train -> predict adds bpe_tokens; register exposes the UDF; the
    concatenated tokens reconstruct the original lowercased text."""
    df = engine.execute(f"""
    select * from (values
      (0, 'low lower lowest low low'),
      (1, 'new newer newest new')) v(doc_id, text) as docs;
    train docs as BPETokenizer.`{tmp_path}/bpe` where numMerges="30";
    predict docs as BPETokenizer.`{tmp_path}/bpe` as enc;
    select doc_id, text, bpe_tokens, n_bpe_tokens from enc as output;
    """)
    for r in df.collect():
        rebuilt = "".join(r["bpe_tokens"]).replace("</w>", " ").strip()
        assert rebuilt == " ".join(r["text"].lower().split())
        assert r["n_bpe_tokens"] == len(r["bpe_tokens"])

    reg = engine.execute(f"""
    register BPETokenizer.`{tmp_path}/bpe` as bpe_encode;
    select bpe_encode('low lower') as toks as output;
    """)
    toks = reg.collect()[0]["toks"]
    assert "".join(toks).replace("</w>", " ").strip() == "low lower"


def test_bpe_merges_artifact_saved(engine, tmp_path, spark):
    engine.execute(f"""
    select * from (values (0, 'ab ab ab ab')) v(doc_id, text) as docs;
    train docs as BPETokenizer.`{tmp_path}/bpe2` where numMerges="5" as t;
    """)
    m = spark.read.parquet(f"{tmp_path}/bpe2/merges.parquet").collect()
    assert {tuple(r) for r in
            m} >= {(0, "a", "b")} or m[0]["left"] == "a"


# ---------------------------------------------------------------------------
# RepetitionScore
# ---------------------------------------------------------------------------

def _rep(engine, rows_sql):
    df = engine.execute(f"""
    select * from (values {rows_sql}) v(doc_id, text) as docs;
    run docs as RepetitionScore.`` as output;
    """)
    return {r["doc_id"]: r for r in df.collect()}


def test_repetition_known_fractions(engine):
    rows = _rep(engine, "(0, 'a a a a'), (1, 'x y z w')")
    r0, r1 = rows[0], rows[1]
    assert r0["top_word_frac"] == 1.0       # 'a' ×4 of 4 tokens
    assert r0["frac_dup_2grams"] == 1.0     # all three 'a a' repeat
    assert r0["keep"] is False
    assert r1["top_word_frac"] == 0.25      # all unique
    assert r1["frac_dup_2grams"] == 0.0
    assert r1["frac_dup_3grams"] == 0.0
    assert r1["keep"] is True


def test_repetition_duplicate_lines(engine):
    rows = _rep(engine, r"(0, 'aa bb\ncc dd\naa bb')")
    r = rows[0]
    assert r["frac_dup_lines"] == 0.6667    # 2 of 3 line instances repeat
    assert r["keep"] is False               # over the 0.3 line cap


def test_repetition_short_doc_zero_ngram_fracs(engine):
    rows = _rep(engine, "(0, 'solo')")
    r = rows[0]
    assert r["top_word_frac"] == 1.0
    assert r["frac_dup_2grams"] == 0.0 and r["frac_dup_3grams"] == 0.0


# ---------------------------------------------------------------------------
# DataMixing
# ---------------------------------------------------------------------------

def test_data_mixing_plan_math(engine):
    """Two strata, 100 docs each of 2 tokens: weights 0.75/0.25 → the
    scarce target (web at 0.75) caps the mix; web keeps everything,
    code downsamples to a third."""
    df = engine.execute("""
    select id as doc_id,
           case when id < 100 then 'web' else 'code' end as source,
           'w w' as text
    from range(200) as docs;
    run docs as DataMixing.`` where weight.web="0.75" and weight.code="0.25"
        as output;
    """)
    rows = {r["stratum"]: r for r in df.collect()}
    assert rows["web"]["n_tokens"] == 200
    assert rows["web"]["sample_fraction"] == 1.0     # binding stratum
    assert abs(rows["code"]["sample_fraction"] - 0.3333) < 1e-9
    assert rows["web"]["target_weight"] == 0.75


def test_data_mixing_weights_normalized_and_unlisted_zero(engine):
    df = engine.execute("""
    select id as doc_id,
           case when id % 3 = 0 then 'a' when id % 3 = 1 then 'b'
                else 'drop_me' end as source,
           'x' as text
    from range(90) as docs;
    run docs as DataMixing.`` where weight.a="2" and weight.b="2" as output;
    """)
    rows = {r["stratum"]: r for r in df.collect()}
    assert rows["a"]["target_weight"] == 0.5         # 2/(2+2) normalized
    assert rows["drop_me"]["target_weight"] == 0.0
    assert rows["drop_me"]["sample_fraction"] == 0.0


def test_data_mixing_apply_hits_target(engine):
    """apply=true: the sampled corpus approximates the target token mix
    and excludes unweighted strata entirely."""
    rows = engine.execute("""
    select id as doc_id,
           case when id < 600 then 'big' when id < 800 then 'small'
                else 'junk' end as source,
           'w w w w' as text
    from range(1000) as docs;
    run docs as DataMixing.`` where weight.big="0.5" and weight.small="0.5"
        and apply="true" as output;
    """).collect()
    by_src = {}
    for r in rows:
        by_src[r["source"]] = by_src.get(r["source"], 0) + 1
    assert "junk" not in by_src
    assert by_src["small"] > 150                     # ~200 kept (binding)
    # big downsampled to ≈ small's mass: ratio near 1, hash noise allowed
    assert 0.6 < by_src["big"] / by_src["small"] < 1.4


# ---------------------------------------------------------------------------
# SemDeDup
# ---------------------------------------------------------------------------

def _semdedup_pairs(engine, sf_dir, extra):
    df = engine.execute(f"""
    load parquet.`{sf_dir}/embeddings.parquet` as emb;
    run emb as SemDeDup.`` where threshold="0.45" {extra} as output;
    """)
    return {(r["id_a"], r["id_b"]): r["cosine"] for r in df.collect()}


def test_semdedup_clustered_subset_of_exact(engine, sf_dir):
    """nlist>1 pairs are a SUBSET of brute force (cells only ever drop
    cross-cell pairs, never invent pairs or change cosines), and recall
    stays substantial on the fixture."""
    exact = _semdedup_pairs(engine, sf_dir, 'and nlist="1"')
    clustered = _semdedup_pairs(engine, sf_dir, 'and nlist="4"')
    assert set(clustered) <= set(exact)
    for k, v in clustered.items():
        assert v == exact[k]
    assert len(exact) > 0
    # recall is the tunable trade (threshold 0.45 pairs are only weakly
    # similar, so many legitimately cross cells on this tiny fixture) —
    # the CONTRACT is the subset/identical-cosine property above plus a
    # non-empty result
    assert len(clustered) >= 1


def test_semdedup_cell_split_preserves_within_sub_pairs(engine, sf_dir):
    """A tiny maxCellSize forces sub-splitting; emitted pairs stay a
    subset of exact with identical cosines (memory guard, not a
    correctness change)."""
    exact = _semdedup_pairs(engine, sf_dir, 'and nlist="1"')
    split = _semdedup_pairs(engine, sf_dir,
                            'and nlist="1"  and maxCellSize="50"')
    assert set(split) <= set(exact)
    for k, v in split.items():
        assert v == exact[k]


def test_java_image_alias_resizes(engine, tmp_path, spark):
    """JavaImage / OpenCVImage (reference TrainAdaptor.scala:154-155)
    resolve to ImageResize: real decode + resample through the alias."""
    from streamingpro_spark.functions.codecs import (make_png_decoder,
                                                     make_png_encoder)
    (tmp_path / "img.png").write_bytes(make_png_encoder()(16, 8, seed=3))
    df = engine.execute(f"""
    load binaryFile.`{tmp_path}/img.png` as imgs;
    run imgs as JavaImage.`` where width="4" and height="4" as output;
    """)
    row = df.collect()[0]
    pix = make_png_decoder()(bytes(row["resized"]))
    assert len(pix) == 4 and len(pix[0]) == 4    # (h, w) rows of RGB


def test_sequence_pack_null_text(engine):
    # null text = 0 tokens; greedy packing must not poison the counter
    df = engine.execute("""
    set data = '''
    {"doc_id":1,"text":"a b c d"}
    {"doc_id":2,"text":null}
    {"doc_id":3,"text":"e f g h"}
    {"doc_id":4,"text":"i j k l"}
    ''';
    load jsonStr.`data` as t;
    run t as SequencePack.`` where budget="8" and numBuckets="1"
        and mode="greedy" as out;
    """)
    rows = {r["doc_id"]: r for r in df.collect()}
    assert rows[2]["n_tokens"] == 0
    # budget 8 with 4-token docs: two real docs per sequence
    seqs = {}
    for r in rows.values():
        seqs.setdefault(r["seq_id"], 0)
        seqs[r["seq_id"]] += r["n_tokens"]
    assert all(v <= 8 for v in seqs.values()), seqs


def test_data_mixing_unknown_stratum_errors(engine):
    import pytest as _pytest
    with _pytest.raises(ValueError, match="match no rows"):
        engine.execute("""
        set data = '''
        {"doc_id":1,"source":"web","text":"a b"}
        ''';
        load jsonStr.`data` as t;
        run t as DataMixing.`` where strataCol="source"
            and weight.web="0.5" and weight.books="0.5" as out;
        """)


# ---------------------------------------------------------------------------
# PerplexityBucket
# ---------------------------------------------------------------------------

def test_perplexity_bucket_exact_tertiles(engine):
    """9 docs with scores 1..9 per stratum: exact tertile cuts put 3 in
    each bucket, independently per stratum; a null score gets a null
    bucket."""
    df = engine.execute("""
    select id % 9 + 1 as doc_id,
           case when id < 9 then 'a' else 'b' end as src,
           cast(case when id = 17 then null
                     else (id % 9 + 1) * case when id < 9 then 1.0
                                              else 10.0 end end
                as double) as ppl
    from range(18) as docs;
    run docs as PerplexityBucket.`` where scoreCol="ppl"
        and strataCol="src" and exact="true" as output;
    """)
    rows = df.collect()
    by = {(r["src"], r["doc_id"]): r["ppl_bucket"] for r in rows}
    for d in (1, 2, 3):
        assert by[("a", d)] == "head"
    for d in (4, 5, 6):
        assert by[("a", d)] == "middle"
    for d in (7, 8, 9):
        assert by[("a", d)] == "tail"
    # stratum b has its own (10x) thresholds, and one null row
    assert by[("b", 1)] == "head" and by[("b", 8)] == "tail"
    assert by[("b", 9)] is None          # null score -> null bucket
    assert set(df.columns) == {"doc_id", "src", "ppl", "ppl_bucket"}


def test_perplexity_bucket_global_custom_labels(engine):
    """Empty strataCol = one global threshold set; custom cuts/labels."""
    df = engine.execute("""
    select id as doc_id, cast(id as double) as s from range(10) as docs;
    run docs as PerplexityBucket.`` where scoreCol="s" and cuts="0.5"
        and labels="keep,drop" and exact="true" as output;
    """)
    rows = {r["doc_id"]: r["ppl_bucket"] for r in df.collect()}
    assert [rows[i] for i in range(10)] == ["keep"] * 5 + ["drop"] * 5


def test_perplexity_bucket_approx_within_one_of_exact(engine):
    """The default approx path lands each bucket within one doc of the
    exact tertiles (approx_percentile returns a corpus ELEMENT while
    the exact aggregate interpolates, so a single boundary doc may flip
    — never more at full sketch accuracy), and assignment stays
    monotone in the score."""
    from collections import Counter
    q = """
    select id as doc_id, cast(id * 0.37 as double) as s
    from range(60) as docs;
    run docs as PerplexityBucket.`` where scoreCol="s" {extra} as output;
    """
    ex = {r["doc_id"]: r["ppl_bucket"]
          for r in engine.execute(q.format(extra='and exact="true"')).collect()}
    ap = {r["doc_id"]: r["ppl_bucket"]
          for r in engine.execute(q.format(extra="")).collect()}
    cx, ca = Counter(ex.values()), Counter(ap.values())
    assert all(abs(cx[k] - ca[k]) <= 1 for k in ("head", "middle", "tail"))
    order = {"head": 0, "middle": 1, "tail": 2}
    ranks = [order[ap[i]] for i in range(60)]  # score rises with doc_id
    assert ranks == sorted(ranks)


def test_perplexity_bucket_param_errors(engine):
    with pytest.raises(ValueError, match="labels"):
        engine.execute("""
        select 1 as doc_id, cast(1.0 as double) as s as d;
        run d as PerplexityBucket.`` where scoreCol="s"
            and cuts="0.5" and labels="a,b,c" as out;
        """)
    with pytest.raises(ValueError, match="scoreCol"):
        engine.execute("""
        select 1 as doc_id as d2;
        run d2 as PerplexityBucket.`` where scoreCol="nope" as out2;
        """)
    with pytest.raises(ValueError, match="strictly increasing"):
        engine.execute("""
        select 1 as doc_id, cast(1.0 as double) as s as d3;
        run d3 as PerplexityBucket.`` where scoreCol="s"
            and cuts="0.9,0.1" and labels="a,b,c" as out3;
        """)


def test_perplexity_bucket_broadcast_no_python_plan(spark, sf_dir):
    """The threshold join is broadcast and the bucket CASE is codegen:
    no Python eval, no shuffle join on the per-row side."""
    import __spark_entry__ as em
    df = em.base_queries()["perplexity_bucket"](spark, sf_dir)
    je = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    plan = je.explainString(mode)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# TokenBudgetSample
# ---------------------------------------------------------------------------

def _tbs_replay(ids_texts, budget, num_buckets=32):
    """Python replay of the deterministic hash-order budget walk."""
    import hashlib

    def h(i):
        return int(hashlib.md5(f"budget:{i}".encode()).hexdigest()[:15], 16)

    rows = sorted(((h(i) % num_buckets, h(i), i, len(t.split()))
                   for i, t in ids_texts))
    kept, cum = set(), 0
    for _bk, _h, i, nt in rows:
        if cum < budget:
            kept.add(i)
        cum += nt
    return kept


def test_token_budget_matches_python_replay(engine):
    docs = [(i, " ".join(["w"] * (3 + i % 5))) for i in range(40)]
    values = ", ".join(f"({i}, '{t}')" for i, t in docs)
    df = engine.execute(f"""
    select * from (values {values}) v(doc_id, text) as d;
    run d as TokenBudgetSample.`` where strataCol="text"
        and idCol="doc_id" and defaultBudget="0" as out;
    """)
    # strataCol="text" makes 5 strata (by length); budget 0 drops all
    assert df.count() == 0
    df2 = engine.execute(f"""
    select *, 'all' as src from (values {values}) v(doc_id, text) as d2;
    run d2 as TokenBudgetSample.`` where strataCol="src"
        and budget.all="60" as out2;
    """)
    kept = {r["doc_id"] for r in df2.collect()}
    assert kept == _tbs_replay(docs, 60)
    # the straddling doc is kept: realized tokens >= budget
    realized = sum(len(t.split()) for i, t in docs if i in kept)
    assert realized >= 60


def test_token_budget_annotate_and_unlimited(engine):
    df = engine.execute("""
    select id as doc_id, 'a' as src, 'x y z' as text from range(10) as d;
    run d as TokenBudgetSample.`` where strataCol="src"
        and defaultBudget="7" and mode="annotate" as out;
    """)
    rows = sorted(df.collect(), key=lambda r: r["tokens_before"])
    assert [r["keep"] for r in rows] == [True] * 3 + [False] * 7
    assert all(r["n_tokens"] == 3 for r in rows)
    assert rows[0]["tokens_before"] == 0
    assert set(df.columns) == {"doc_id", "src", "text", "n_tokens",
                               "tokens_before", "keep"}
    # defaultBudget="-1" with an explicit budget keeps unlisted strata whole
    df2 = engine.execute("""
    select id as doc_id, case when id < 5 then 'a' else 'b' end as src,
           'x y' as text from range(10) as d2;
    run d2 as TokenBudgetSample.`` where strataCol="src"
        and budget.a="2" as out2;
    """)
    by_src = {}
    for r in df2.collect():
        by_src.setdefault(r["src"], 0)
        by_src[r["src"]] += 1
    assert by_src["b"] == 5              # unlimited
    assert by_src["a"] == 1              # 2-token budget: first doc only


def test_token_budget_param_errors(engine):
    with pytest.raises(ValueError, match="budget"):
        engine.execute("""
        select 1 as doc_id, 'a' as src, 'x' as text as d;
        run d as TokenBudgetSample.`` where strataCol="src" as out;
        """)
    with pytest.raises(ValueError, match="mode"):
        engine.execute("""
        select 1 as doc_id, 'a' as src, 'x' as text as d2;
        run d2 as TokenBudgetSample.`` where strataCol="src"
            and defaultBudget="5" and mode="nope" as out2;
        """)


def test_token_budget_no_python_plan(spark, sf_dir):
    """Window cumsum + broadcast offset join: no Python eval anywhere,
    and the offset join side is broadcast (never sort-merge)."""
    import __spark_entry__ as em
    df = em.base_queries()["token_budget_sample"](spark, sf_dir)
    je = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    plan = je.explainString(mode)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_token_budget_xxhash64_parity_of_contract(engine):
    """hashImpl="xxhash64" (production) selects a DIFFERENT sample than
    md5 (the orders differ by design) but honors the same contract:
    deterministic across runs, budget realized (>= budget when supply
    suffices), never undershot by more than the straddling doc."""
    q = """
    select id as doc_id, 'a' as src, 'tok tok tok' as text
    from range(40) as d;
    run d as TokenBudgetSample.`` where strataCol="src"
        and defaultBudget="50" and hashImpl="{impl}" as out;
    """
    md5_a = {r["doc_id"] for r in engine.execute(q.format(impl="md5")).collect()}
    xx_a = {r["doc_id"] for r in engine.execute(q.format(impl="xxhash64")).collect()}
    xx_b = {r["doc_id"] for r in engine.execute(q.format(impl="xxhash64")).collect()}
    assert xx_a == xx_b                      # deterministic
    # 3 tokens/doc, budget 50: 17 docs kept (48 before the 17th starts)
    assert len(md5_a) == 17 and len(xx_a) == 17
    import pytest as _pytest
    with _pytest.raises(ValueError, match="hashImpl"):
        engine.execute(q.format(impl="sha1"))


def test_data_mixing_max_epochs_plan_and_apply(engine):
    """maxEpochs > 1 raises the cap to min(n_tokens*E/weight) so scarce
    strata can exceed fraction 1; apply mode materializes floor(f)
    exact copies per row plus a hash-gated remainder."""
    q = """
    select id as doc_id,
           case when id < 10 then 'rare' else 'web' end as src,
           'tok tok tok tok' as text
    from range(110) as docs;
    run docs as DataMixing.`` where strataCol="src" and weight.rare="0.5"
        and weight.web="0.5" and maxEpochs="4" {extra} as output;
    """
    plan = {r["stratum"]: r for r in engine.execute(q.format(extra="")).collect()}
    # rare: 10 docs/40 tokens, web: 100 docs/400 tokens; cap =
    # min(40*4/.5, 400*4/.5) = 320 -> rare f = .5*320/40 = 4.0, web 0.4
    assert plan["rare"]["sample_fraction"] == 4.0
    assert abs(plan["web"]["sample_fraction"] - 0.4) < 1e-9
    rows = engine.execute(q.format(extra='and apply="true"')).collect()
    from collections import Counter
    per_doc = Counter(r["doc_id"] for r in rows)
    for i in range(10):                       # every rare doc: 4 copies
        assert per_doc[i] == 4
    web_kept = sum(1 for i, n in per_doc.items() if i >= 10)
    assert all(per_doc[i] == 1 for i in per_doc if i >= 10)
    assert 20 <= web_kept <= 60               # ~40 of 100 at 0.4
    # default maxEpochs=1 still caps at the scarcest stratum (f <= 1)
    plan1 = {r["stratum"]: r["sample_fraction"]
             for r in engine.execute(q.format(extra="").replace(
                 'and maxEpochs="4"', "")).collect()}
    assert plan1["rare"] == 1.0 and abs(plan1["web"] - 0.1) < 1e-9
    with pytest.raises(ValueError, match="maxEpochs"):
        engine.execute(q.format(extra="").replace('maxEpochs="4"',
                                                  'maxEpochs="0.5"'))


def test_perplexity_bucket_null_stratum_null_bucket(engine):
    """A row whose stratum is NULL matches no threshold row — it gets a
    NULL bucket, never a silent tail assignment."""
    df = engine.execute("""
    select * from (values
      (1, 'a', cast(1.0 as double)), (2, 'a', cast(2.0 as double)),
      (3, 'a', cast(3.0 as double)), (4, cast(null as string),
       cast(2.0 as double))) v(doc_id, src, s) as d;
    run d as PerplexityBucket.`` where scoreCol="s" and strataCol="src"
        and exact="true" as out;
    """)
    r = {row["doc_id"]: row["ppl_bucket"] for row in df.collect()}
    assert r[1] == "head" and r[3] == "tail"
    assert r[4] is None


def test_token_budget_null_stratum_and_null_id(engine):
    """NULL stratum is a stratum (one budget across its rows, not one
    per hash bucket); NULL ids are excluded from the walk — keep=false
    in annotate mode, dropped in filter mode."""
    df = engine.execute("""
    select case when id = 9 then null else id end as doc_id,
           cast(null as string) as src, 'x y z' as text
    from range(10) as d;
    run d as TokenBudgetSample.`` where strataCol="src"
        and defaultBudget="7" and numBuckets="4" and mode="annotate" as out;
    """)
    rows = df.collect()
    kept = [r for r in rows if r["keep"]]
    # 3 tokens/doc, budget 7 -> exactly 3 docs kept ACROSS the whole
    # NULL stratum (a per-bucket budget would keep up to 3 per bucket)
    assert len(kept) == 3
    null_id = [r for r in rows if r["doc_id"] is None]
    assert len(null_id) == 1 and null_id[0]["keep"] is False
    assert null_id[0]["tokens_before"] is None
    filtered = engine.execute("""
    select case when id = 9 then null else id end as doc_id,
           'a' as src, 'x' as text from range(10) as d2;
    run d2 as TokenBudgetSample.`` where strataCol="src"
        and defaultBudget="100" as out2;
    """).collect()
    assert sorted(r["doc_id"] for r in filtered) == list(range(9))


def test_stratified_rejects_fractions_above_one(engine):
    with pytest.raises(ValueError, match="maxEpochs"):
        engine.execute("""
        select 1 as doc_id, 'a' as src as d;
        run d as StratifiedSampleExt.`` where strataCol="src"
            and ratio.a="3.0" as out;
        """)


def test_perplexity_bucket_rejects_duplicate_cuts(engine):
    with pytest.raises(ValueError, match="strictly increasing"):
        engine.execute("""
        select 1 as doc_id, cast(1.0 as double) as s as d;
        run d as PerplexityBucket.`` where scoreCol="s"
            and cuts="0.3333,0.3333" as out;
        """)


def test_weighted_sample_gates_by_column(engine):
    """Weight 1.0 keeps all, 0.0 and NULL drop all, a mid weight keeps
    a hash-proportional subset; weights above 1 clamp to keep-all."""
    q = """
    select id as doc_id, cast({w} as double) as sample_weight
    from range(200) as d;
    run d as WeightedSampleExt.`` as out;
    """
    assert len(engine.execute(q.format(w="1.0")).collect()) == 200
    assert len(engine.execute(q.format(w="0.0")).collect()) == 0
    assert len(engine.execute(q.format(w="null")).collect()) == 0
    assert len(engine.execute(q.format(w="7.5")).collect()) == 200  # clamp
    mid = engine.execute(q.format(w="0.3")).collect()
    assert 30 <= len(mid) <= 90
    # deterministic and nested like the stratum sampler
    mid2 = {r["doc_id"] for r in engine.execute(q.format(w="0.3")).collect()}
    big = {r["doc_id"] for r in engine.execute(q.format(w="0.6")).collect()}
    assert {r["doc_id"] for r in mid} == mid2 and mid2 <= big
    with pytest.raises(ValueError, match="weightCol"):
        engine.execute("""
        select 1 as doc_id as d2;
        run d2 as WeightedSampleExt.`` as out2;
        """)


def test_weighted_sample_realizes_soft_dedup(engine):
    """Chained after SoftDedup, every singleton survives (weight 1.0)
    and each dup cluster keeps a hash-chosen subset."""
    import json
    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = [(i, base) for i in range(1, 7)] + [(9, "something else "
            "entirely about columnar storage and encodings")]
    dj = "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in docs)
    rows = engine.execute(f"""
    set wsj = '''{dj}''';
    load jsonStr.`wsj` as ws_docs;
    run ws_docs as SoftDedup.`` where threshold="0.8" as weighted;
    run weighted as WeightedSampleExt.`` as out;
    """).collect()
    kept = {r["doc_id"] for r in rows}
    assert 9 in kept                       # singleton, weight 1.0
    assert kept - {9} <= set(range(1, 7))  # cluster subset only


def test_annotate_columns_overwrite_not_duplicate(engine):
    """Chaining annotate ETs must not emit duplicate column names: a
    prior `keep` is overwritten by TokenBudgetSample's, and
    re-bucketing overwrites an existing ppl_bucket."""
    df = engine.execute("""
    select id as doc_id, 'a' as src, 'x y z' as text,
           true as keep, cast(id as long) as n_tokens
    from range(6) as d;
    run d as TokenBudgetSample.`` where strataCol="src"
        and defaultBudget="6" and mode="annotate" as out;
    select doc_id from out where keep as kept;
    """)
    assert df.count() == 2              # 3 tok/doc, budget 6
    out_cols = engine.context.spark.table("out").columns
    assert out_cols.count("keep") == 1 and out_cols.count("n_tokens") == 1
    df2 = engine.execute("""
    select id as doc_id, cast(id as double) as s, 'stale' as ppl_bucket
    from range(9) as d2;
    run d2 as PerplexityBucket.`` where scoreCol="s" and exact="true" as out2;
    """)
    assert df2.columns.count("ppl_bucket") == 1
    assert {r["ppl_bucket"] for r in df2.collect()} == {"head", "middle",
                                                        "tail"}


def test_token_budget_monotone_and_realized(engine):
    """Budget-walk invariants over one corpus: keep sets NEST as the
    budget grows (the hash order is fixed, so a bigger budget keeps a
    superset), and the realized token mass is >= min(budget, supply)
    with overshoot bounded by one straddling document."""
    engine.execute("""
    select id as doc_id, 'a' as src,
           concat_ws(' ', transform(sequence(1, 1 + cast(id % 7 as int)),
                                    x -> 'w')) as text
    from range(60) as tb_corpus;
    """)
    supply = sum(1 + i % 7 for i in range(60))
    max_doc = 7
    prev = set()
    for budget in (0, 5, 40, 120, supply, supply + 500):
        rows = engine.execute(f"""
        run tb_corpus as TokenBudgetSample.`` where strataCol="src"
            and defaultBudget="{budget}" as out;
        """).collect()
        kept = {r["doc_id"] for r in rows}
        assert prev <= kept, (budget, prev - kept)
        realized = sum(1 + i % 7 for i in kept)
        assert realized >= min(budget, supply)
        if budget < supply:
            assert realized < budget + max_doc   # straddler-bounded
        prev = kept
    assert prev == set(range(60))                # full supply at the top


# ---------------------------------------------------------------------------
# DSIRScore
# ---------------------------------------------------------------------------

def test_dsir_scores_target_like_docs_higher(engine):
    """Docs sharing the target's vocabulary outscore alien-vocabulary
    docs; the target members themselves rank above the corpus mean;
    empty docs get a null score with 0 features."""
    df = engine.execute("""
    select * from (values
      (1, 'spark shuffle partitions broadcast join optimizer'),
      (2, 'spark partitions shuffle broadcast catalyst plans'),
      (3, 'spark shuffle broadcast partitions join planner'),
      (4, 'violets bloom sweetly in the quiet meadow garden'),
      (5, 'recipe calls for flour butter sugar and vanilla'),
      (6, '')) v(doc_id, text) as d;
    select doc_id, text from d where doc_id <= 2 as dsir_t;
    run d as DSIRScore.`` where targetTable="dsir_t" and numBuckets="256"
        as out;
    """)
    r = {row["doc_id"]: row for row in df.collect()}
    spark_like = min(r[i]["dsir_score"] for i in (1, 2, 3))
    alien = max(r[i]["dsir_score"] for i in (4, 5))
    assert spark_like > alien
    assert r[6]["dsir_score"] is None and r[6]["n_features"] == 0


def test_dsir_param_errors(engine):
    with pytest.raises(ValueError, match="targetTable"):
        engine.execute("""
        select 1 as doc_id, 'x' as text as d;
        run d as DSIRScore.`` as out;
        """)
    with pytest.raises(ValueError, match="ngrams"):
        engine.execute("""
        select 1 as doc_id, 'x' as text as d2;
        run d2 as DSIRScore.`` where targetTable="d2" and ngrams="0,2"
            as out2;
        """)
    with pytest.raises(ValueError, match="contentCol"):
        engine.execute("""
        select 1 as doc_id, 'x' as body as d3;
        select 1 as doc_id as t3;
        run d3 as DSIRScore.`` where targetTable="t3" and contentCol="body"
            as out3;
        """)


# ---------------------------------------------------------------------------
# round-9 fixes: whitespace-padded token counts, DSIR short-doc shingles,
# greedy-mode bucket guard
# ---------------------------------------------------------------------------

def test_token_counts_ignore_whitespace_padding(engine):
    """Leading/trailing whitespace (or a terminal newline) must not
    inflate n_tokens: split('\\s+') emits '' entries at padded ends,
    which used to count +1 per side in SequencePack, TokenBudgetSample
    and DataMixing (Gopher already filtered them)."""
    df = engine.execute("""
    set data = '''
    {"doc_id":1,"text":"  a b ","source":"s"}
    {"doc_id":2,"text":"c d\\n","source":"s"}
    {"doc_id":3,"text":"e f","source":"s"}
    ''';
    load jsonStr.`data` as t;
    run t as SequencePack.`` where budget="8" and numBuckets="1" as out;
    """)
    assert {r["n_tokens"] for r in df.collect()} == {2}

    tb = engine.execute("""
    run t as TokenBudgetSample.`` where strataCol="source"
        and defaultBudget="100" and mode="annotate" as out;
    """)
    assert {r["n_tokens"] for r in tb.collect()} == {2}

    dm = engine.execute("""
    run t as DataMixing.`` where strataCol="source" and weight.s="1.0"
        as out;
    """)
    assert dm.collect()[0]["n_tokens"] == 6


def test_dsir_short_doc_emits_no_truncated_shingle(engine):
    """A doc shorter than n emits NO n-gram: a 1-token doc used to
    count its token twice (unigram + degenerate 'bigram'), skewing
    scores for very short documents."""
    df = engine.execute("""
    select * from (values
      (1, 'solo'),
      (2, 'two words'),
      (3, 'three word doc')) v(doc_id, text) as d;
    select doc_id, text from d where doc_id = 3 as probe;
    run d as DSIRScore.`` where targetTable="probe" as out;
    """)
    nf = {r["doc_id"]: r["n_features"] for r in df.collect()}
    # n tokens -> n unigrams + max(n-1, 0) bigrams
    assert nf == {1: 1, 2: 3, 3: 5}


def test_sequence_pack_greedy_bucket_guard(engine):
    """greedy mode pre-checks docs-per-bucket against maxBucketRows and
    raises the rendered remedy instead of an opaque executor OOM."""
    with pytest.raises(ValueError, match="maxBucketRows"):
        engine.execute("""
        select * from (values (1,'a b'),(2,'c d'),(3,'e f'),(4,'g h'))
          v(doc_id, text) as d;
        run d as SequencePack.`` where mode="greedy" and numBuckets="1"
            and maxBucketRows="2" as out;
        """)
    # remedy names the knobs
    try:
        engine.execute("""
        run d as SequencePack.`` where mode="greedy" and numBuckets="1"
            and maxBucketRows="2" as out;
        """)
    except ValueError as e:
        assert "numBuckets" in str(e) and "chunk" in str(e)
    # chunk mode is unguarded (no per-bucket materialization)
    out = engine.execute("""
    run d as SequencePack.`` where mode="chunk" and numBuckets="1" as out;
    """)
    assert out.count() == 4


def test_dsir_cache_features_parity(engine):
    """cacheFeatures="true" (one persisted feature stream) must produce
    byte-identical scores to the default two-scan path."""
    setup = """
    select * from (values
      (1, 'the quick brown fox jumps over the lazy dog'),
      (2, 'spark shuffles partition data across the cluster'),
      (3, 'the lazy dog sleeps under the quick brown fox'),
      (4, 'completely unrelated words zebra quark fjord')) v(doc_id, text)
      as ddocs;
    select doc_id, text from ddocs where doc_id <= 2 as dprobe;
    """
    a = engine.execute(setup + """
    run ddocs as DSIRScore.`` where targetTable="dprobe" as out;
    """).collect()
    b = engine.execute(setup + """
    run ddocs as DSIRScore.`` where targetTable="dprobe"
        and cacheFeatures="true" as out;
    """).collect()
    ra = {r["doc_id"]: (r["dsir_score"], r["n_features"]) for r in a}
    rb = {r["doc_id"]: (r["dsir_score"], r["n_features"]) for r in b}
    assert ra == rb
    # the script-lifetime cache is released at execute() end
    assert not any(k.startswith("__et_dsir_feats")
                   for k in engine.context.cached_tables)


# ---------------------------------------------------------------------------
# DeterministicShard
# ---------------------------------------------------------------------------

def test_deterministic_shard_layout_invariants(engine):
    """Positions are a contiguous 0..n-1 sequence per shard, the layout
    is identical across re-runs, and re-sharding overwrites the two
    output columns instead of duplicating them."""
    rows1 = engine.execute("""
    select id as doc_id, concat('doc ', id) as text
    from range(0, 97) as d;
    run d as DeterministicShard.`` where numShards="8" as out;
    """).collect()
    by_shard = {}
    for r in rows1:
        by_shard.setdefault(r["shard"], []).append(r["shard_pos"])
    assert set(by_shard) <= set(range(8))
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(len(poss))), shard
    # stable across runs
    rows2 = engine.execute("""
    run d as DeterministicShard.`` where numShards="8" as out;
    """).collect()
    key = lambda rs: sorted((r["doc_id"], r["shard"], r["shard_pos"])
                            for r in rs)
    assert key(rows1) == key(rows2)
    # re-sharding to a different layout overwrites, not appends
    df3 = engine.execute("""
    run out as DeterministicShard.`` where numShards="4" as out2;
    """)
    assert df3.columns.count("shard") == 1
    assert df3.columns.count("shard_pos") == 1
    assert {r["shard"] for r in df3.collect()} <= set(range(4))


def test_deterministic_shard_order_col_curriculum(engine):
    """orderCol makes shard_pos follow the curriculum column first
    (hash breaks ties), nulls last."""
    rows = engine.execute("""
    select * from (values
      (1, 5.0), (2, 1.0), (3, 3.0), (4, cast(null as double)),
      (5, 2.0), (6, 4.0), (7, 0.5), (8, 9.0)) v(doc_id, difficulty) as d;
    run d as DeterministicShard.`` where numShards="2"
        and orderCol="difficulty" as out;
    """).collect()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(
            (r["shard_pos"], r["difficulty"]))
    for shard, items in by_shard.items():
        items.sort()
        diffs = [d for _, d in items]
        non_null = [d for d in diffs if d is not None]
        assert non_null == sorted(non_null), (shard, diffs)
        # nulls last
        if None in diffs:
            assert diffs.index(None) == len(non_null), (shard, diffs)


def test_deterministic_shard_rendered_errors(engine):
    import pytest as _pytest
    with _pytest.raises(ValueError, match="numShards"):
        engine.execute("""
        select 1 as doc_id as d1;
        run d1 as DeterministicShard.`` where numShards="0" as out;
        """)
    with _pytest.raises(ValueError, match="orderCol"):
        engine.execute("""
        select 1 as doc_id as d2;
        run d2 as DeterministicShard.`` where orderCol="nope" as out;
        """)


def test_deterministic_shard_incremental_append(engine):
    """refTable append: the increment keeps the same hash shard, its
    positions continue from each shard's max, and the union is a
    contiguous 0..n-1 per shard — identical to what a from-scratch
    layout of gen1 would produce for gen1 (gen1 rows untouched)."""
    rows = engine.execute("""
    select id as doc_id from range(0, 60) as all_docs;
    select * from all_docs where doc_id < 30 as gen1;
    select * from all_docs where doc_id >= 30 as gen2;
    run gen1 as DeterministicShard.`` where numShards="4" as l1;
    run gen2 as DeterministicShard.`` where numShards="4"
        and refTable="l1" as l2;
    select doc_id, shard, shard_pos, 1 as gen from l1
    union all
    select doc_id, shard, shard_pos, 2 as gen from l2 as out;
    """).collect()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(
            (r["shard_pos"], r["gen"]))
    for shard, items in by_shard.items():
        items.sort()
        assert [p for p, _ in items] == list(range(len(items))), shard
        gens = [g for _, g in items]
        # every gen-1 row precedes every gen-2 row in the shard
        assert gens == sorted(gens), (shard, gens)
    # the two generations must share COLUMN ORDER (the offsets join
    # moves the key first; a positional union would misalign) — caught
    # by a verify drive, pinned here
    c1 = engine.execute("select * from l1 as o1;").columns
    c2 = engine.execute("select * from l2 as o2;").columns
    assert c1 == c2 == ["doc_id", "shard", "shard_pos"]
    # refTable must be a layout
    import pytest as _pytest
    with _pytest.raises(ValueError, match="refTable"):
        engine.execute("""
        run gen2 as DeterministicShard.`` where refTable="all_docs" as bad;
        """)


def test_deterministic_shard_manifest_ref_equivalent(engine):
    """The manifest form of refTable (shard, next_pos — the O(|shards|)
    at-scale path) must yield the same append layout as handing the
    full previous layout."""
    engine.execute("""
    select id as doc_id from range(0, 50) as md;
    select * from md where doc_id < 25 as mg1;
    select * from md where doc_id >= 25 as mg2;
    run mg1 as DeterministicShard.`` where numShards="4" as ml1;
    select shard, max(shard_pos) + 1 as next_pos from ml1
    group by shard as ml1_manifest;
    """)
    via_layout = engine.execute("""
    run mg2 as DeterministicShard.`` where numShards="4"
        and refTable="ml1" as a;
    """).collect()
    via_manifest = engine.execute("""
    run mg2 as DeterministicShard.`` where numShards="4"
        and refTable="ml1_manifest" as b;
    """).collect()
    key = lambda rs: sorted((r["doc_id"], r["shard"], r["shard_pos"])
                            for r in rs)
    assert key(via_layout) == key(via_manifest)


def test_deterministic_shard_null_id_passthrough(engine):
    """A NULL id has no hash, hence no deterministic placement: the row
    passes through with shard = shard_pos = NULL, never silently
    dropped, and non-null rows keep contiguous positions."""
    rows = engine.execute("""
    select * from (values (1), (2), (cast(null as int)), (4)) v(doc_id) as d;
    run d as DeterministicShard.`` where numShards="2" as out;
    """).collect()
    assert len(rows) == 4
    null_rows = [r for r in rows if r["doc_id"] is None]
    assert len(null_rows) == 1
    assert null_rows[0]["shard"] is None and null_rows[0]["shard_pos"] is None
    by_shard = {}
    for r in rows:
        if r["doc_id"] is not None:
            by_shard.setdefault(r["shard"], []).append(r["shard_pos"])
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))


def test_deterministic_shard_null_id_order_col(engine):
    """The NULL-id convention (shard = shard_pos = NULL) must hold on
    the orderCol path too: row_number over the NULL-shard window used
    to assign such rows real positions ordered only by orderCol
    (advisor finding, round 10) — in BOTH curriculum modes."""
    for mode in ("exact", "bucketed"):
        rows = engine.execute(f"""
        select * from (values
          (1, 2.0), (2, 1.0), (cast(null as int), 0.5),
          (cast(null as int), 0.5), (4, 3.0)) v(doc_id, difficulty) as d;
        run d as DeterministicShard.`` where numShards="2"
            and orderCol="difficulty" and curriculumMode="{mode}" as out;
        """).collect()
        assert len(rows) == 5, mode
        null_rows = [r for r in rows if r["doc_id"] is None]
        assert len(null_rows) == 2, mode
        for r in null_rows:
            assert r["shard"] is None and r["shard_pos"] is None, mode
        by_shard = {}
        for r in rows:
            if r["doc_id"] is not None:
                by_shard.setdefault(r["shard"], []).append(r["shard_pos"])
        for poss in by_shard.values():
            assert sorted(poss) == list(range(len(poss))), mode


def test_deterministic_shard_bucketed_curriculum_parity(engine):
    """curriculumMode="bucketed" (quantile range-buckets, numShards x
    layoutBuckets parallel windows) must yield POSITIONS IDENTICAL to
    exact mode: bucket assignment is a monotone function of the
    orderCol value, so (qbucket, orderCol, hash, id) is the same total
    order as (orderCol, hash, id) regardless of boundary choice.
    Includes ties, negative values, and NULL orderCol rows (which sort
    last in both modes)."""
    engine.execute("""
    select id as doc_id,
           case when id % 11 = 0 then cast(null as double)
                else cast((id * 37) % 13 - 6 as double) end as difficulty
    from range(0, 300) as bd;
    """)
    key = lambda rs: sorted((r["doc_id"], r["shard"], r["shard_pos"])
                            for r in rs)
    exact = engine.execute("""
    run bd as DeterministicShard.`` where numShards="4"
        and orderCol="difficulty" as be;
    """).collect()
    for n_bkts in ("1", "4", "32"):
        bucketed = engine.execute(f"""
        run bd as DeterministicShard.`` where numShards="4"
            and orderCol="difficulty" and curriculumMode="bucketed"
            and layoutBuckets="{n_bkts}" as bb;
        """).collect()
        assert key(exact) == key(bucketed), n_bkts
    # composes with refTable append identically to exact mode
    engine.execute("""
    select * from bd where doc_id < 150 as bdg1;
    select * from bd where doc_id >= 150 as bdg2;
    run bdg1 as DeterministicShard.`` where numShards="4"
        and orderCol="difficulty" as bdl1;
    """)
    exact_ref = engine.execute("""
    run bdg2 as DeterministicShard.`` where numShards="4"
        and orderCol="difficulty" and refTable="bdl1" as a;
    """).collect()
    bucketed_ref = engine.execute("""
    run bdg2 as DeterministicShard.`` where numShards="4"
        and orderCol="difficulty" and curriculumMode="bucketed"
        and layoutBuckets="8" and refTable="bdl1" as b;
    """).collect()
    assert key(exact_ref) == key(bucketed_ref)
    # rendered errors: non-numeric orderCol, unknown mode
    import pytest as _pytest
    with _pytest.raises(ValueError, match="numeric orderCol"):
        engine.execute("""
        select 1 as doc_id, 'a' as tag as sd;
        run sd as DeterministicShard.`` where orderCol="tag"
            and curriculumMode="bucketed" as out;
        """)
    with _pytest.raises(ValueError, match="curriculumMode"):
        engine.execute("""
        run bd as DeterministicShard.`` where orderCol="difficulty"
            and curriculumMode="nope" as out;
        """)


def test_deterministic_shard_ref_num_shards_mismatch(engine):
    """A reference layout built with a DIFFERENT numShards must be a
    rendered error, not a silent position collision: shards absent from
    the reference used to coalesce to offset 0 (advisor finding,
    round 10).  Both refTable forms (layout and manifest) are checked."""
    import pytest as _pytest
    engine.execute("""
    select id as doc_id from range(0, 80) as nm;
    select * from nm where doc_id < 40 as nm1;
    select * from nm where doc_id >= 40 as nm2;
    run nm1 as DeterministicShard.`` where numShards="8" as nml8;
    select shard, max(shard_pos) + 1 as next_pos from nml8
    group by shard as nml8_manifest;
    """)
    for ref in ("nml8", "nml8_manifest"):
        with _pytest.raises(ValueError, match="different numShards"):
            engine.execute(f"""
            run nm2 as DeterministicShard.`` where numShards="4"
                and refTable="{ref}" as bad;
            """)
    # a NULL-shard row in the reference (the operator's own NULL-id
    # pass-through convention) must NOT trip the guard — it carries no
    # offset and does not count against numShards (review finding,
    # round 10: the first guard version counted the NULL group and
    # false-positived on a matching reference)
    engine.execute("""
    select doc_id, shard, shard_pos from nml8
    union all
    select cast(null as bigint), cast(null as int), cast(null as bigint)
    as nml8_with_null;
    run nm2 as DeterministicShard.`` where numShards="8"
        and refTable="nml8_with_null" as ok_null;
    """)
    # a string-typed manifest (csv round-trip) still works: digits
    # coerce; non-numeric values get a rendered error, not a TypeError
    engine.execute("""
    select cast(shard as string) as shard, next_pos from nml8_manifest
    as nml8_str_manifest;
    run nm2 as DeterministicShard.`` where numShards="8"
        and refTable="nml8_str_manifest" as ok_str;
    """)
    with _pytest.raises(ValueError, match="non-integer"):
        engine.execute("""
        select concat('s', shard) as shard, next_pos from nml8_manifest
        as nml8_bad_manifest;
        run nm2 as DeterministicShard.`` where numShards="8"
            and refTable="nml8_bad_manifest" as bad2;
        """)
    # the matching numShards still works, and the literal-offsets
    # rebuild yields the same layout as before the guard
    rows = engine.execute("""
    run nm2 as DeterministicShard.`` where numShards="8"
        and refTable="nml8" as ok;
    select doc_id, shard, shard_pos, 1 as gen from nml8
    union all
    select doc_id, shard, shard_pos, 2 as gen from ok as out;
    """).collect()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append((r["shard_pos"], r["gen"]))
    for shard, items in by_shard.items():
        items.sort()
        assert [p for p, _ in items] == list(range(len(items))), shard


def test_deterministic_shard_manifest_duplicate_rows(engine):
    """A manifest refTable with two rows for one shard must be a
    DEDICATED rendered error (advisor finding, round 11): within the
    collect bound it used to pass the guard and the broadcast join
    silently multiplied output rows; over the bound it tripped the
    misleading numShards-mismatch message."""
    import pytest as _pytest
    engine.execute("""
    select id as doc_id from range(0, 60) as dm;
    select * from dm where doc_id < 30 as dm1;
    select * from dm where doc_id >= 30 as dm2;
    run dm1 as DeterministicShard.`` where numShards="4" as dml;
    select shard, max(shard_pos) + 1 as next_pos from dml
    group by shard as dml_manifest;
    """)
    # within-bound dup (5 rows vs numShards=4): the join used to fan out
    with _pytest.raises(ValueError, match="multiple rows for shard"):
        engine.execute("""
        select * from dml_manifest
        union all
        select shard, next_pos + 7 as next_pos from dml_manifest
        where shard = 2 as dml_dup;
        run dm2 as DeterministicShard.`` where numShards="4"
            and refTable="dml_dup" as bad;
        """)
    # over-bound dup (8 rows vs numShards=4, all shard ids in range):
    # must ALSO diagnose duplication, not claim a numShards mismatch
    with _pytest.raises(ValueError, match="multiple rows for shard"):
        engine.execute("""
        select * from dml_manifest
        union all
        select shard, next_pos + 7 as next_pos from dml_manifest
        as dml_dup_all;
        run dm2 as DeterministicShard.`` where numShards="4"
            and refTable="dml_dup_all" as bad2;
        """)
    # out-of-range shard id AND duplicates: either diagnosis is
    # legitimate (the bounded limit(numShards+1) collect picks an
    # arbitrary subset, so which defect it sees first is not pinned) —
    # what matters is that SOME rendered error fires, never a fan-out
    with _pytest.raises(ValueError,
                        match="different numShards|multiple rows"):
        engine.execute("""
        select * from dml_dup union all
        select 9 as shard, cast(1 as long) as next_pos as dml_mixed;
        run dm2 as DeterministicShard.`` where numShards="4"
            and refTable="dml_mixed" as bad3;
        """)


def test_deterministic_shard_scratch_collision_guard(engine):
    """Input columns colliding with the scratch names the CHOSEN mode
    creates are a rendered error (advisor finding, round 11: a seeded
    run silently overwrote a user `__ho` and dropped it); names the
    run does NOT create keep passing through."""
    import pytest as _pytest
    cases = [
        # (extra select cols, where clause) -> colliding scratch name
        ("id * 2 as __sh", 'numShards="2"'),
        ("id * 2 as __ho", 'numShards="2" and epochSeed="e1"'),
        ("id * 2 as __bv", 'numShards="2"'),
        ("cast(id as double) as diff, id * 2 as __qb",
         'numShards="2" and orderCol="diff" '
         'and curriculumMode="bucketed"'),
    ]
    for cols, where in cases:
        with _pytest.raises(ValueError, match="collide"):
            engine.execute(f"""
            select id as doc_id, {cols} from range(0, 10) as sg;
            run sg as DeterministicShard.`` where {where} as out;
            """)
    # __off only collides when refTable is in play
    engine.execute("""
    select id as doc_id from range(0, 20) as sgr;
    run sgr as DeterministicShard.`` where numShards="2" as sgr_base;
    """)
    with _pytest.raises(ValueError, match="collide"):
        engine.execute("""
        select id + 100 as doc_id, id as __off from range(0, 10) as sg2;
        run sg2 as DeterministicShard.`` where numShards="2"
            and refTable="sgr_base" as out;
        """)
    # ...and passes through when it isn't (no refTable)
    cols = engine.execute("""
    select id as doc_id, id as __off from range(0, 10) as sg3;
    run sg3 as DeterministicShard.`` where numShards="2" as out3;
    """).columns
    assert "__off" in cols, cols
    # exact-curriculum run without epochSeed creates neither __qb nor
    # __ho: both pass through (the round-10 regression, now widened)
    cols = engine.execute("""
    select id as doc_id, cast(id as double) as diff,
           id as __qb, id * 10 as __ho from range(0, 10) as sg4;
    run sg4 as DeterministicShard.`` where numShards="2"
        and orderCol="diff" as out4;
    """).columns
    assert "__qb" in cols and "__ho" in cols, cols


def test_deterministic_shard_epoch_reshuffle(engine):
    """epochSeed: shard assignment identical to the unseeded layout,
    positions contiguous per shard, the within-shard ORDER actually
    changes between epochs, the same seed reproduces, and refTable
    append composes (offsets from an unseeded base layout remain
    valid)."""
    engine.execute("""
    select id as doc_id from range(0, 400) as ed;
    run ed as DeterministicShard.`` where numShards="4" as e_base;
    run ed as DeterministicShard.`` where numShards="4"
        and epochSeed="e1" as e_one;
    run ed as DeterministicShard.`` where numShards="4"
        and epochSeed="e2" as e_two;
    run ed as DeterministicShard.`` where numShards="4"
        and epochSeed="e1" as e_one_again;
    """)
    pull = lambda t: {r["doc_id"]: (r["shard"], r["shard_pos"])
                      for r in engine.execute(
                          f"select * from {t} as o;").collect()}
    base, e1, e2, e1b = (pull(t) for t in
                         ("e_base", "e_one", "e_two", "e_one_again"))
    # shard assignment is epoch-invariant
    for d in base:
        assert base[d][0] == e1[d][0] == e2[d][0], d
    # same seed reproduces exactly; different seeds permute
    assert e1 == e1b
    assert any(e1[d][1] != e2[d][1] for d in e1)
    assert any(e1[d][1] != base[d][1] for d in e1)
    # contiguous positions per shard in every epoch
    for lay in (e1, e2):
        by_shard = {}
        for d, (s, p) in lay.items():
            by_shard.setdefault(s, []).append(p)
        for poss in by_shard.values():
            assert sorted(poss) == list(range(len(poss)))
    # composes with refTable: append an increment against the EPOCH
    # layout — stable shards mean the offsets line up
    rows = engine.execute("""
    select id + 1000 as doc_id from range(0, 60) as ed2;
    run ed2 as DeterministicShard.`` where numShards="4"
        and epochSeed="e1" and refTable="e_one" as e_app;
    select a.doc_id as doc_id, a.shard as shard, a.shard_pos as shard_pos
    from e_app a as out;
    """).collect()
    mx = {}
    for d, (s, p) in e1.items():
        mx[s] = max(mx.get(s, -1), p)
    for r in rows:
        assert r["shard_pos"] > mx[r["shard"]], r
    # a user column that happens to be named __ho passes through an
    # UNSEEDED run untouched (review finding, round 10: the curriculum
    # drop used to remove it unconditionally)
    cols = engine.execute("""
    select id as doc_id, cast(id as double) as diff, id * 10 as __ho
    from range(0, 20) as hd;
    run hd as DeterministicShard.`` where numShards="2"
        and orderCol="diff" as hout;
    """).columns
    assert "__ho" in cols, cols


def test_deterministic_shard_curriculum_with_ref_append(engine):
    """orderCol and refTable compose: the appended generation is
    curriculum-ordered WITHIN itself and positioned after the previous
    generation's rows in each shard."""
    rows = engine.execute("""
    select id as doc_id, cast(id % 7 as double) as difficulty
    from range(0, 40) as cd;
    select * from cd where doc_id < 20 as cg1;
    select * from cd where doc_id >= 20 as cg2;
    run cg1 as DeterministicShard.`` where numShards="2"
        and orderCol="difficulty" as cl1;
    run cg2 as DeterministicShard.`` where numShards="2"
        and orderCol="difficulty" and refTable="cl1" as cl2;
    select doc_id, shard, shard_pos, difficulty, 2 as gen from cl2
    union all
    select doc_id, shard, shard_pos, difficulty, 1 as gen from cl1 as out;
    """).collect()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(
            (r["shard_pos"], r["gen"], r["difficulty"]))
    for shard, items in by_shard.items():
        items.sort()
        assert [p for p, _, _ in items] == list(range(len(items)))
        gens = [g for _, g, _ in items]
        assert gens == sorted(gens)          # gen1 block precedes gen2
        for g in (1, 2):
            diffs = [d for _, gg, d in items if gg == g]
            assert diffs == sorted(diffs), (shard, g, diffs)


# ---------------------------------------------------------------------------
# LayoutAudit / LayoutManifest / GroupedSplit (round 11)
# ---------------------------------------------------------------------------

def test_layout_audit_invariants(engine):
    """LayoutAudit: green on a fresh layout; detects a position shift,
    a duplicated position, a numShards drift, and NULL-convention
    violations — each in exactly the shard that carries it."""
    import pytest as _pytest
    engine.execute("""
    select id as doc_id from range(0, 300) as au_d;
    run au_d as DeterministicShard.`` where numShards="6" as au_l;
    """)
    ok = engine.execute("""
    run au_l as LayoutAudit.`` where numShards="6" as a;
    select * from a as out;
    """).collect()
    assert len(ok) == 6
    assert all(r["contiguous_ok"] and r["gate_ok"] and r["convention_ok"]
               for r in ok), ok
    # shifted positions: contiguous fails ONLY in shard 2
    rows = engine.execute("""
    select doc_id, shard,
           case when shard = 2 then shard_pos + 1 else shard_pos end
             as shard_pos from au_l as au_shift;
    run au_shift as LayoutAudit.`` where numShards="6" as a2;
    select * from a2 as out;
    """).collect()
    assert {r["shard"] for r in rows if not r["contiguous_ok"]} == {2}
    assert all(r["gate_ok"] for r in rows)
    # duplicated position: n_distinct_pos < n_rows, contiguous fails
    rows = engine.execute("""
    select doc_id, shard,
           case when shard = 4 and shard_pos = 1 then cast(0 as long)
                else shard_pos end as shard_pos
    from au_l as au_dup;
    run au_dup as LayoutAudit.`` where numShards="6" as a3;
    select * from a3 as out;
    """).collect()
    bad = [r for r in rows if not r["contiguous_ok"]]
    assert len(bad) == 1 and bad[0]["shard"] == 4
    assert bad[0]["n_distinct_pos"] == bad[0]["n_rows"] - 1
    # numShards drift: gate fails (every shard has rows that hash
    # elsewhere under 12 shards)
    rows = engine.execute("""
    run au_l as LayoutAudit.`` where numShards="12" as a4;
    select * from a4 as out;
    """).collect()
    assert any(not r["gate_ok"] for r in rows)
    # NULL conventions: a well-formed NULL row audits green in the
    # NULL-shard group; a NULL id with a shard violates
    rows = engine.execute("""
    select doc_id, shard, shard_pos from au_l
    union all
    select cast(null as bigint), cast(null as int), cast(null as bigint)
    as au_n;
    run au_n as LayoutAudit.`` where numShards="6" as a5;
    select * from a5 as out;
    """).collect()
    ng = [r for r in rows if r["shard"] is None]
    assert len(ng) == 1 and ng[0]["contiguous_ok"] and ng[0]["convention_ok"]
    rows = engine.execute("""
    select doc_id, shard, shard_pos from au_l
    union all
    select cast(null as bigint), 1, cast(null as bigint) as au_bn;
    run au_bn as LayoutAudit.`` where numShards="6" as a6;
    select * from a6 as out;
    """).collect()
    assert any(not r["convention_ok"] for r in rows if r["shard"] == 1)
    # xor_sig: identical layouts carry identical per-shard signatures;
    # swapping two documents' positions inside one shard (counts,
    # bounds and distinctness all UNCHANGED — invisible to the other
    # flags) flips that shard's signature and only that shard's
    base_sig = {r["shard"]: r["xor_sig"] for r in ok}
    again = {r["shard"]: r["xor_sig"] for r in engine.execute("""
    run au_l as LayoutAudit.`` where numShards="6" as a7;
    select * from a7 as out;
    """).collect()}
    assert again == base_sig
    swapped = {r["shard"]: r["xor_sig"] for r in engine.execute("""
    select doc_id, shard,
           case when shard = 3 and shard_pos = 0 then cast(1 as long)
                when shard = 3 and shard_pos = 1 then cast(0 as long)
                else shard_pos end as shard_pos
    from au_l as au_swap;
    run au_swap as LayoutAudit.`` where numShards="6" as a8;
    select * from a8 as out;
    """).collect()}
    assert swapped[3] != base_sig[3]
    assert all(swapped[s] == base_sig[s] for s in base_sig if s != 3)
    # not a layout: rendered error
    with _pytest.raises(ValueError, match="not a layout"):
        engine.execute("""
        select 1 as doc_id as au_x;
        run au_x as LayoutAudit.`` as bad;
        """)


def test_layout_manifest_shape_and_composition(engine):
    """LayoutManifest equals the hand-rolled aggregate, excludes the
    NULL-shard group, can never trip the duplicate-manifest guard, and
    feeds DeterministicShard refTable so the appended generation
    starts at next_pos."""
    import pytest as _pytest
    engine.execute("""
    select id as doc_id from range(0, 200) as mf_d;
    run mf_d as DeterministicShard.`` where numShards="5" as mf_l;
    select doc_id, shard, shard_pos from mf_l
    union all
    select cast(null as bigint), cast(null as int), cast(null as bigint)
    as mf_ln;
    run mf_ln as LayoutManifest.`` as mf_m;
    """)
    man = {r["shard"]: (r["next_pos"], r["n_rows"]) for r in
           engine.execute("select * from mf_m as o;").collect()}
    hand = {r["shard"]: (r["np"], r["n"]) for r in engine.execute(
        "select shard, max(shard_pos) + 1 as np, count(*) as n "
        "from mf_l group by shard as o;").collect()}
    assert man == hand and None not in man
    # composes: appended generation continues at next_pos per shard
    rows = engine.execute("""
    select id + 1000 as doc_id from range(0, 50) as mf_d2;
    run mf_d2 as DeterministicShard.`` where numShards="5"
        and refTable="mf_m" as mf_l2;
    select shard, min(shard_pos) as mn from mf_l2 group by shard as o;
    """).collect()
    for r in rows:
        assert r["mn"] == man[r["shard"]][0], (r, man)
    with _pytest.raises(ValueError, match="not a layout"):
        engine.execute("""
        select 1 as shard as mf_x;
        run mf_x as LayoutManifest.`` as bad;
        """)


def test_grouped_split_leakage_safe_and_params(engine):
    """GroupedSplit: one split per group (leakage-safe), deterministic
    across runs and engines (md5 gate), NULL group -> NULL split,
    annotator overwrite convention, rendered param errors, xxhash64
    impl accepted."""
    import pytest as _pytest
    rows = engine.execute("""
    select id as doc_id, concat('g', cast(id % 37 as string)) as grp
    from range(0, 500) as gs_d;
    run gs_d as GroupedSplit.`` where groupCol="grp"
        and splits="train:0.8,validation:0.1,test:0.1" as gs_o;
    select grp, split, count(*) as n from gs_o group by grp, split as o;
    """).collect()
    per_group = {}
    for r in rows:
        per_group.setdefault(r["grp"], set()).add(r["split"])
    assert all(len(v) == 1 for v in per_group.values()), per_group
    assert {s for v in per_group.values() for s in v} \
        <= {"train", "validation", "test"}
    # deterministic: re-run identical
    again = engine.execute("""
    run gs_d as GroupedSplit.`` where groupCol="grp"
        and splits="train:0.8,validation:0.1,test:0.1" as gs_o2;
    select grp, split, count(*) as n from gs_o2 group by grp, split as o;
    """).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # overwrite convention: an existing `split` column is replaced
    cols_rows = engine.execute("""
    select id as doc_id, 'stale' as split from range(0, 20) as gs_s;
    run gs_s as GroupedSplit.`` where splits="a:0.5,b:0.5" as gs_so;
    select * from gs_so as o;
    """).collect()
    assert all(r["split"] in ("a", "b") for r in cols_rows)
    # NULL group passes through with NULL split
    rows = engine.execute("""
    select cast(null as string) as g union all select 'x' as g as gs_n;
    run gs_n as GroupedSplit.`` where groupCol="g"
        and splits="a:0.5,b:0.5" as gs_no;
    select g, split from gs_no as o;
    """).collect()
    m = {r["g"]: r["split"] for r in rows}
    assert m[None] is None and m["x"] in ("a", "b")
    # xxhash64 production impl runs (values differ from md5 by design)
    engine.execute("""
    run gs_d as GroupedSplit.`` where groupCol="grp"
        and splits="a:0.5,b:0.5" and hashImpl="xxhash64" as gs_xx;
    """)
    for bad, msg in [('splits="train:1.0"', "at least 2"),
                     ('splits="a:0.5,b:0.6"', "sum to 1"),
                     ('splits="a:0.5,a:0.5"', "duplicate"),
                     ('splits="a:0.5,b:x"', "not a number"),
                     ('splits="a:0.5,b"', "name:ratio"),
                     ('splits="a:0.5,b:-0.5"', "> 0"),
                     # ratios that pass > 0 but round to a zero-width
                     # hash range at the 1e6 resolution (review
                     # finding: the split was silently unreachable)
                     ('splits="a:0.0000001,b:0.9999999"', "EMPTY"),
                     ('splits="b:0.9999999,a:0.0000001"', "EMPTY"),
                     # outputCol clobbering its own group key (review
                     # finding: used to be a raw AnalysisException)
                     ('groupCol="grp" and outputCol="grp" '
                      'and splits="a:0.5,b:0.5"', "overwrite its own"),
                     ('groupCol="nope" and splits="a:0.5,b:0.5"',
                      "groupCol")]:
        with _pytest.raises(ValueError, match=msg.replace("(", "\\(")):
            engine.execute(
                f"run gs_d as GroupedSplit.`` where {bad} as x;")
