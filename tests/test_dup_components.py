"""The two engines of `dedup.component_labels`: the driver's union-find
(pair graphs of at most DRIVER_MAX_EDGES edges) and Spark's min-label
propagation (larger graphs; forced here by setting the bound to 0).
DupClusters, NearDedup and SoftDedup must give the same output, and
the same maxIter error, on both."""

import json
import random
import uuid

import pytest

from streamingpro_spark.operators import dedup
from streamingpro_spark.operators.base import local_table

ENGINES = ["driver", "spark"]


def _on(monkeypatch, kind, fn):
    """fn() with component_labels forced onto one engine (the test
    graphs are far below the driver bound); fails unless that engine
    ran."""
    calls = []
    with monkeypatch.context() as m:
        if kind == "spark":
            m.setattr(dedup, "DRIVER_MAX_EDGES", 0)
        real = getattr(dedup, f"_{kind}_labels")
        m.setattr(dedup, f"_{kind}_labels",
                  lambda *a: calls.append(kind) or real(*a))
        out = fn()
    assert calls, f"the {kind} engine did not run"
    return out


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _oracle(ids, pairs):
    """(id, cluster_id, keep) per distinct non-null id: components over
    the pairs whose both endpoints are ids, min id as the label."""
    nodes = {i for i in ids if i is not None}
    adj = {v: set() for v in nodes}
    for a, b in pairs:
        if a in adj and b in adj:
            adj[a].add(b)
            adj[b].add(a)
    label = {}
    for v in sorted(nodes):
        if v in label:
            continue
        stack, comp = [v], {v}
        while stack:
            for w in adj[stack.pop()] - comp:
                comp.add(w)
                stack.append(w)
        for w in comp:
            label[w] = v
    return label


def _graph(seed, key):
    """A seeded pair graph of cliques, chains, stars, self-loops and
    duplicate edges, with out-of-corpus and NULL endpoints and
    duplicate input ids: (ids, pairs), keys mapped through `key`."""
    rng = random.Random(seed)
    nodes = list(range(200))
    rng.shuffle(nodes)
    pairs, at = [], 0
    for shape in rng.choices(["clique", "chain", "star"], k=30):
        size = rng.randint(2, 4 if shape == "chain" else 6)
        grp, at = nodes[at:at + size], at + size
        if len(grp) < 2:
            break
        if shape == "clique":
            pairs += [(a, b) for i, a in enumerate(grp) for b in grp[i + 1:]]
        elif shape == "chain":
            pairs += list(zip(grp, grp[1:]))
        else:
            pairs += [(grp[0], b) for b in grp[1:]]
    pairs += [(v, v) for v in rng.sample(nodes, 5)]          # self-loops
    pairs += rng.sample(pairs, 10)                           # duplicates
    pairs += [(v, 1000 + v) for v in rng.sample(nodes, 5)]   # not in df
    bridged = rng.choice(nodes[:190])
    pairs += [(1000, 1001), (bridged, 1002), (1002, bridged + 1)]
    pairs += [(None, rng.choice(nodes)), (rng.choice(nodes), None),
              (None, None)]
    rng.shuffle(pairs)
    pairs = [(a, b) if rng.random() < 0.5 else (b, a) for a, b in pairs]
    ids = nodes[:190] + rng.sample(nodes[:190], 5) + [None]
    conv = (lambda v: None if v is None else key(v))
    return [conv(i) for i in ids], [(conv(a), conv(b)) for a, b in pairs]


# string ids: mixed case, accents and a non-BMP character, so Python's
# code-point order must agree with Spark's UTF-8 byte order
_STR_KEYS = ["Z", "a", "é", "\U0001d518", "ä", "0", "_"]


def _str_key(v):
    return f"{_STR_KEYS[v % len(_STR_KEYS)]}{v:04d}"


@pytest.mark.parametrize("id_type,seed", [
    ("bigint", 1), ("int", 2), ("string", 3)])
def test_dup_clusters_engines_agree(spark, monkeypatch, seed, id_type):
    """DupClusters' (doc_id, cluster_id, keep) rows and schema are the
    same on both engines, and match a Python components oracle."""
    key = _str_key if id_type == "string" else int
    ids, pairs = _graph(seed, key)
    df = local_table(spark, [(i, "x") for i in ids],
                               f"doc_id {id_type}, text string")
    pairs_df = local_table(spark, pairs,
                                     f"doc_a {id_type}, doc_b {id_type}")
    out = {kind: _on(monkeypatch, kind, lambda: dedup.cluster_pairs(
        df, pairs_df, {"maxIter": "20"})) for kind in ENGINES}
    assert out["driver"].schema == out["spark"].schema
    got = _rows(out["driver"])
    assert got == _rows(out["spark"])
    label = _oracle(ids, pairs)
    want = sorted(((i, label.get(i, i), label.get(i, i) == i)
                   if i is not None else (None, None, None) for i in ids),
                  key=repr)
    assert got == want


def test_component_labels_engines_agree(spark, monkeypatch):
    """The (id, label) table itself: one row per input id that is a
    pair endpoint, typed as the id column, on both engines."""
    ids, pairs = _graph(7, int)
    df = local_table(spark, [(i,) for i in ids], "doc_id int")
    pairs_df = local_table(spark, pairs, "doc_a bigint, doc_b bigint")
    got = {}
    for kind in ENGINES:
        labels, caches = _on(monkeypatch, kind, lambda: dedup.component_labels(
            df, pairs_df, {}))
        got[kind] = (labels.schema.simpleString(), _rows(labels))
        for cache in caches:
            cache.unpersist()
    assert got["driver"] == got["spark"]
    assert got["driver"][0] == "struct<id:int,label:int>"
    ends = {v for p in pairs for v in p}
    assert {r[0] for r in got["driver"][1]} == \
        {i for i in ids if i is not None and i in ends}


def test_other_id_types_take_the_spark_engine(spark, monkeypatch):
    """A double id (no order the driver may assume) runs the Spark loop
    whatever the bound says."""
    calls = []
    real = dedup._spark_labels
    monkeypatch.setattr(dedup, "_spark_labels",
                        lambda *a: calls.append(1) or real(*a))
    df = local_table(spark, [(1.0,), (2.0,), (3.0,)], "doc_id double")
    pairs = local_table(spark, [(2.0, 3.0)], "doc_a double, doc_b double")
    rows = _rows(dedup.cluster_pairs(df, pairs, {}))
    assert rows == [(1.0, 1.0, True), (2.0, 2.0, True), (3.0, 2.0, False)]
    assert calls == [1]


@pytest.mark.parametrize("pairs,max_iter", [
    ([(i, i + 1) for i in range(1, 30)], 10),        # chain, depth 29
    ([(i, i + 1) for i in range(1, 12)], 5),         # depth 11, span 4 ends
    ([(30 - i, 29 - i) for i in range(16)], 7),      # chain from the top
    ([(1, 2), (2, 3), (2, 4), (4, 5), (5, 6), (9, 10), (10, 11)], 2),
    ([(1, 2), (2, 3)], 0),                           # no rounds run
    ([(1, 2)], -1),
], ids=["chain29", "chain11", "rev_chain", "tree", "zero", "negative"])
def test_max_iter_error_is_the_same(spark, monkeypatch, pairs, max_iter):
    """A component deeper than maxIter raises the same rendered error,
    with the same count of still-changing labels, on both engines."""
    ids = sorted({v for p in pairs for v in p})
    df = local_table(spark, [(i,) for i in ids], "doc_id bigint")
    pairs_df = local_table(spark, pairs, "doc_a bigint, doc_b bigint")
    msgs = {}
    for kind in ENGINES:
        with pytest.raises(ValueError, match="had not converged") as err:
            _on(monkeypatch, kind, lambda: dedup.cluster_pairs(
                df, pairs_df, {"maxIter": str(max_iter)}))
        msgs[kind] = str(err.value)
    assert msgs["driver"] == msgs["spark"]


@pytest.mark.parametrize("pairs,max_iter", [
    ([(1, 2), (2, 3)], 2),                           # fixpoint on round 2
    ([(3, 2), (2, 1), (1, 4), (4, 5)], 2),           # min in the middle
    ([(1, 1), (2, 2)], 0),                           # self-loops only
    ([(1, 99)], 0),                                  # endpoint not in df
])
def test_fixpoint_within_max_iter_is_not_an_error(spark, monkeypatch, pairs,
                                                  max_iter):
    ids = sorted({v for p in pairs for v in p} - {99})
    df = local_table(spark, [(i,) for i in ids], "doc_id bigint")
    pairs_df = local_table(spark, pairs, "doc_a bigint, doc_b bigint")
    out = [_rows(_on(monkeypatch, kind, lambda: dedup.cluster_pairs(
        df, pairs_df, {"maxIter": str(max_iter)}))) for kind in ENGINES]
    assert out[0] == out[1]
    label = _oracle(ids, pairs)
    assert out[0] == [(i, label[i], label[i] == i) for i in ids]


def _corpus(seed, n_bases=12, start=0):
    """Seeded documents in near-dup families: each base text plus
    copies with one or two words changed, chained off each other."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(400)]
    docs, next_id = [], start
    for _ in range(n_bases):
        text = [rng.choice(vocab) for _ in range(30)]
        for _ in range(rng.randint(1, 5)):
            docs.append((next_id, " ".join(text)))
            next_id += rng.randint(1, 3)
            text = list(text)
            for _ in range(rng.randint(0, 2)):
                text[rng.randrange(len(text))] = rng.choice(vocab)
    return docs


def _run_both(engine, monkeypatch, script):
    return [_rows(_on(monkeypatch, kind, lambda: engine.execute(script)))
            for kind in ENGINES]


def test_near_and_soft_dedup_engines_agree(engine, monkeypatch):
    """NearDedup (self and refTable) and SoftDedup give the same rows on
    both engines."""
    docs = _corpus(11)
    ref = _corpus(111, n_bases=4, start=10_000)
    # the increment re-sends some reference texts under new ids
    docs += [(20_000 + i, t) for i, (_, t) in enumerate(ref[:3])]
    tag = uuid.uuid4().hex[:8]
    dj = "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in docs)
    rj = "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in ref)
    engine.execute(f"""
    set cd_d_{tag} = '''{dj}''';
    set cd_r_{tag} = '''{rj}''';
    load jsonStr.`cd_d_{tag}` as cd_docs;
    load jsonStr.`cd_r_{tag}` as cd_ref;
    """)
    for script in [
            'run cd_docs as NearDedup.`` where threshold="0.6" as o;',
            'run cd_docs as NearDedup.`` where threshold="0.6" '
            'and refTable="cd_ref" as o;',
            'run cd_docs as SoftDedup.`` where threshold="0.6" as o;']:
        driver, spark_rows = _run_both(engine, monkeypatch, script)
        assert driver == spark_rows, script
        assert len(driver) < len(docs) or "SoftDedup" in script


def _job_count(spark, fn):
    sc = spark.sparkContext
    group = f"dup-components-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_near_dedup_increment_cluster_step_jobs(engine, spark, monkeypatch):
    """Everything NearDedup's refTable mode runs after its verified
    pairs exist — components over the intra-batch pairs and the
    removal — takes at most 8 Spark jobs on an increment-sized graph
    (the label-propagation loop took 24 for the same step)."""
    ref = _corpus(21, n_bases=6, start=10_000)
    docs = _corpus(22) + [(20_000 + i, t) for i, (_, t) in enumerate(ref)]
    dj = "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in docs)
    rj = "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in ref)
    engine.execute(f"""
    set jc_d = '''{dj}''';
    set jc_r = '''{rj}''';
    load jsonStr.`jc_d` as jc_docs;
    load jsonStr.`jc_r` as jc_ref;
    """)
    params = {"refTable": "jc_ref", "threshold": "0.6"}
    df = spark.table("jc_docs")
    pairs = dedup.MinHashDedup().train(
        df, "", {**params, "intraBatch": "true"})
    self_pairs = [tuple(r) for r in
                  pairs.filter("pair_src = 'self'").select("doc_a", "doc_b")
                  .collect()]
    ref_dups = {r[0] for r in
                pairs.filter("pair_src = 'ref'").select("doc_a").collect()}
    assert self_pairs and ref_dups
    monkeypatch.setattr(dedup.MinHashDedup, "train",
                        lambda self, *a, **k: pairs)
    out, jobs = _job_count(
        spark, lambda: dedup.NearDedup().train(df, "", params))
    label = _oracle([i for i, _ in docs], self_pairs)
    want = sorted(i for i, _ in docs
                  if label.get(i, i) == i and i not in ref_dups)
    assert sorted(r["doc_id"] for r in out.collect()) == want
    assert jobs <= 8, f"{jobs} Spark jobs"
