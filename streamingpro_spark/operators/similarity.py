"""Similarity search over embedding columns (array<float>).

North-star operators (driver mandate; no direct reference equivalent —
closest is RowMatrix similarity, SQLRowMatrix.scala):

- SimilaritySearch   brute-force cosine top-k (exact baseline).  The
  query set is broadcast; the corpus is scanned once with per-partition
  partial top-k (matmul per Arrow batch) — the only shuffle is the tiny
  partial-result merge.
- LSHSimilaritySearch  random-hyperplane (SRP) bucketed search: only
  vectors sharing a hash bucket are compared (recall < 1, tunable by
  numTables).
- IVFSimilaritySearch  inverted-file cells from sample-trained
  k-means; probes nprobe/nlist of the corpus per query.

Candidate-pair dot products (LSH/IVF re-rank) run as one einsum per
Arrow batch (`pair_dot_udf`); bulk query×corpus scoring uses numpy
matmul — higher-order Catalyst functions are interpreted, so at ≥64
folds/row the Arrow+BLAS path wins (see MinHash/SimHash kernel notes).
"""

from __future__ import annotations

import math

from typing import TYPE_CHECKING

from pyspark.sql import Column, Window, functions as F

from streamingpro_spark.operators.base import (ETAlgorithm, eager_materialize,
                                                ensure_parallelism, get_bool,
                                                get_int, local_table,
                                                script_cache)
from streamingpro_spark.operators.registry import register_et

if TYPE_CHECKING:
    from pyspark.sql import DataFrame


def derive_srp_banding(threshold: float, miss_prob: float = 1e-6,
                       max_tables: int = 64, max_bits: int = 16) -> tuple[int, int]:
    """Auto-derive SRP-LSH banding (bitsPerTable, numTables) from a cosine
    threshold and a per-pair miss probability budget.

    A pair at cosine t collides on one hyperplane bit with
    p = 1 - acos(t)/pi; on a B-bit table with p^B; survives T independent
    tables with miss = (1 - p^B)^T.  We pick the DEEPEST signature (most
    pruning: 2^B buckets/table) whose required table count stays within
    max_tables.  At near-random thresholds (t < ~0.6) the derivation
    honestly collapses toward shallow signatures — all-pairs similarity at
    near-zero cosine is information-theoretically unprunable; the dedup
    regime (t >= 0.9) derives deep signatures that genuinely bucket."""
    t = min(max(float(threshold), -0.999), 0.999)
    p = 1.0 - math.acos(t) / math.pi
    for b in range(max_bits, 0, -1):
        pb = p ** b
        # log1p(-pb), not log(1-pb): for t near -1, p**b underflows and
        # 1.0-pb rounds to exactly 1.0 → log(1.0)==0 → ZeroDivisionError
        tables = max(1, math.ceil(math.log(miss_prob) / math.log1p(-pb)))
        if tables <= max_tables:
            return b, tables
    return 1, max_tables


def make_srp_udf(spark, planes, n_tables: int, bits: int):
    """Pandas UDF: array<float> vector -> array<long> of n_tables SRP
    signatures (one BLAS matmul per Arrow batch against the broadcast
    hyperplane matrix — an inline Catalyst expression was measured 25×
    slower from codegen blowup at T=8,B=8,dim=128)."""
    bc = spark.sparkContext.broadcast(planes)
    nt, nb = n_tables, bits

    def srp(vs):
        import numpy as _np
        import pandas as _pd
        W = bc.value
        _pk = _np.left_shift(_np.int64(1), _np.arange(nb, dtype=_np.int64))
        M = _np.array([list(v) for v in vs], dtype=float)   # (n, dim)
        if M.size == 0:
            return _pd.Series([], dtype=object)
        proj = (M @ W.T) > 0                                 # (n, T*B)
        sigs = proj.reshape(len(vs), nt, nb).astype(_np.int64) @ _pk
        return _pd.Series([row.tolist() for row in sigs])

    return F.pandas_udf(srp, "array<long>")


def bounded_collect(df, max_rows: int, what: str, knob: str,
                    hint: str = "narrow it with queryFilter"):
    """Driver-side collect with a hard cap: collect limit+1 and render an
    actionable error on overflow (the EmbeddingDedup broadcast-bound
    pattern) — never an unbounded driver OOM.  `hint` is per call site:
    only SimilaritySearch has queryTable, so the remediation advice must
    name the knobs that exist there."""
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"{what} exceeds {max_rows} rows; {hint} or raise {knob} "
            f"explicitly (driver-memory bound)")
    return rows


_pair_dot_udf = None


def pair_dot_udf():
    """Rounded (4dp) pairwise dot of two array columns as one einsum per
    Arrow batch — ~64 interpreted folds/row made the IVF full-probe
    rerank 6-7s at sf0.1; this is sub-second."""
    global _pair_dot_udf
    if _pair_dot_udf is None:
        def pair_dot(a, b):
            import numpy as _np
            import pandas as _pd
            A = _np.array([list(x) for x in a], dtype=float)
            B = _np.array([list(x) for x in b], dtype=float)
            if A.size == 0:
                return _pd.Series([], dtype=float)
            return _pd.Series(_np.round(_np.einsum("ij,ij->i", A, B), 4))

        _pair_dot_udf = F.pandas_udf(pair_dot, "double")
    return _pair_dot_udf


def l2_rows(M):
    """Row-L2-normalize a (n, d) numpy matrix; zero rows pass through."""
    import numpy as np
    n = np.linalg.norm(M, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return M / n


def lloyd_spherical(sample, nlist: int, iters: int, seed: int):
    """Spherical k-means on an L2-normalized driver-side sample:
    deterministic seeded init, cosine (dot) assignment, re-normalized
    mean update.  Shared by IVFSimilaritySearch (inline training) and
    IVFIndexBuild (persisted index)."""
    import numpy as np
    rng = np.random.RandomState(seed)
    cent = sample[rng.choice(len(sample), size=nlist, replace=False)]
    for _ in range(iters):
        assign = (sample @ cent.T).argmax(axis=1)
        for c in range(nlist):
            members = sample[assign == c]
            if len(members):
                m = members.sum(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    cent[c] = m / n
    return cent


def train_pq_codebooks(sample, m: int, iters: int, seed: int):
    """Product-quantization codebooks (Jégou et al., TPAMI 2011): split
    the d dims into m subspaces, euclidean k-means with 256 centroids
    per subspace on the (normalized) driver sample.  Returns
    (m, 256, d/m) numpy array.  256 codes/subspace = one byte per
    subspace per vector — a 64-dim float corpus compresses 32×, which
    is the difference between an index that fits and one that doesn't
    at 100 TB."""
    import numpy as np
    n, d = sample.shape
    if d % m:
        raise ValueError(
            f"pqSubspaces={m} must divide the embedding dim ({d})")
    sub = d // m
    k = min(256, n)
    rng = np.random.RandomState(seed)
    books = np.zeros((m, k, sub))
    for s in range(m):
        X = sample[:, s * sub:(s + 1) * sub]
        C = X[rng.choice(n, size=k, replace=False)].copy()
        for _ in range(iters):
            # ||x-c||² argmin == argmax 2xc - ||c||² (x constant)
            assign = (2 * X @ C.T - (C * C).sum(1)).argmax(axis=1)
            for c in range(k):
                members = X[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books[s, :k] = C
    return books


def pq_encode(M, books):
    """(n, d) normalized vectors -> (n, m) uint8 codes."""
    import numpy as np
    m, k, sub = books.shape
    codes = np.zeros((len(M), m), dtype=np.uint8)
    for s in range(m):
        X = M[:, s * sub:(s + 1) * sub]
        C = books[s]
        codes[:, s] = (2 * X @ C.T - (C * C).sum(1)).argmax(axis=1)
    return codes


def _make_pair_cosine():
    """Pandas kernel: exact cosine of two array columns row-by-row
    (used by the PQ re-rank on the bounded |Q|·R candidate set —
    never a corpus-sized path)."""
    def pair_cos(a, b):
        import numpy as _np
        import pandas as _pd
        out = []
        for x, y in zip(a, b):
            u = _np.asarray(x, dtype=float)
            v = _np.asarray(y, dtype=float)
            nu, nv = _np.linalg.norm(u), _np.linalg.norm(v)
            out.append(float(u @ v / (nu * nv)) if nu and nv else 0.0)
        return _pd.Series(out)
    return pair_cos


def load_centroids(index_path: str):
    """Load + validate an IVFIndexBuild `centroids.json` → (nlist, dim)
    numpy array.  Single owner of the artifact format (shared by
    IVFSimilaritySearch, IVFIndexBuild append and SemDeDup indexPath);
    malformed/missing files render a driver-side error instead of an
    opaque numpy shape crash inside an executor task."""
    import json as _json
    import os as _os

    import numpy as np
    cf = _os.path.join(index_path, "centroids.json")
    if not _os.path.exists(cf):
        raise ValueError(
            f"no centroids.json under {index_path!r} — build the index "
            f"with IVFIndexBuild first")
    with open(cf) as fh:
        try:
            cent = np.array(_json.load(fh), dtype=float)
        except ValueError as e:
            raise ValueError(f"{cf} is not a valid centroid file: {e}") \
                from None
    if cent.ndim != 2 or not len(cent):
        raise ValueError(
            f"{cf} is malformed: expected a non-empty 2-D centroid "
            f"list, got shape {cent.shape}")
    return cent


def norm_col(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def normalized_col(a: Column) -> Column:
    """L2-normalize an array<float> into array<double> (normalize once at
    ingest so cosine == dot at query time).  Zero vectors divide by 1.0
    (the numpy kernels' nn[nn==0]=1.0 convention) — a raw /0 yields NULL
    elements and NaN cosines, and Spark ranks NaN above every double."""
    dbl = F.transform(a, lambda v: v.cast("double"))
    n = norm_col(dbl)
    safe = F.when(n == 0.0, F.lit(1.0)).otherwise(n)
    return F.transform(dbl, lambda v: v / safe)


@register_et("SimilaritySearch")
class SimilaritySearch(ETAlgorithm):
    """Brute-force cosine top-k.

    `run embeddings as SimilaritySearch.`` where queryTable="q" and k="5"`
    — or queryFilter="vec_id % 50 = 0" to self-query a subset.
    Output: (query_id, neighbor_id, cosine, rank).

    Scale: corpus scanned once (map-only BLAS matmul per Arrow batch);
    queries broadcast as a dense matrix (must fit in an executor — use
    LSH/IVF for large query sets); per-partition partial top-k means
    the final merge shuffles partitions×|Q|×k rows, not |corpus|×|Q|.
    Ties broken by neighbor id for determinism.
    """

    def train(self, df, path, params, context=None):
        import numpy as np
        id_col = params.get("idCol", "vec_id")
        col = params.get("embeddingCol", "embedding")
        k = get_int(params, "k", 5)
        df = ensure_parallelism(df)
        if params.get("queryTable"):
            qdf = df.sparkSession.table(params["queryTable"])
        else:
            qdf = df.filter(F.expr(params.get("queryFilter", "true")))
        # queries broadcast as one dense matrix (documented constraint:
        # the query set fits in an executor); corpus streams through ONE
        # mapInPandas pass — BLAS matmul per Arrow batch + batch-local
        # top-k, so the shuffle carries partitions×|Q|×k partial rows
        # instead of |corpus|×|Q| scored pairs (the map-side combine
        # that makes brute force survive a 100 TB corpus).  The collect
        # is hard-bounded: the default queryFilter="true" would otherwise
        # pull the whole corpus to the driver at scale.
        max_q = get_int(params, "maxQueryRows", 100_000)
        qrows = bounded_collect(qdf.select(id_col, col), max_q,
                                "SimilaritySearch query set", "maxQueryRows",
                                hint="narrow it with queryTable/queryFilter")
        id_t = df.schema[id_col].dataType.simpleString()
        out_schema = f"query_id {id_t}, neighbor_id {id_t}, cosine double"
        if not qrows:
            # empty query set (normal filter outcome) — not a numpy
            # AxisError on a (0,)-shaped matrix
            return local_table(
                df.sparkSession, [], out_schema + ", rank int")
        qids = np.array([r[0] for r in qrows])
        Q = np.array([list(r[1]) for r in qrows], dtype=float)
        qn = np.linalg.norm(Q, axis=1, keepdims=True)
        qn[qn == 0] = 1.0
        bc = df.sparkSession.sparkContext.broadcast((qids, Q / qn))
        kk = k

        def part_topk(batches):
            import numpy as _np
            import pandas as _pd
            _qids, _Q = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                M = _np.array([list(v) for v in pdf[col]], dtype=float)
                nn = _np.linalg.norm(M, axis=1, keepdims=True)
                nn[nn == 0] = 1.0
                # batch-local selection uses the SAME total order as the
                # global merge — (rounded cosine desc, id asc) — so the
                # partial top-k composes exactly
                S = _np.round((M / nn) @ _Q.T, 4)            # (n, q)
                cids = pdf[id_col].to_numpy()
                oq, on, oc = [], [], []
                for j in range(len(_qids)):
                    idx = _np.nonzero(cids != _qids[j])[0]
                    if not idx.size:
                        continue
                    take = idx[_np.lexsort((cids[idx], -S[idx, j]))][:kk]
                    oq.extend([_qids[j]] * len(take))
                    on.extend(cids[take])
                    oc.extend(S[take, j])
                yield _pd.DataFrame(
                    {"query_id": oq, "neighbor_id": on, "cosine": oc})

        partials = df.select(id_col, col).mapInPandas(part_topk, out_schema)
        w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                                   F.col("neighbor_id"))
        return (partials.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= kk)
                .select("query_id", "neighbor_id", "cosine", "rank"))

    def explain_params(self):
        return [("idCol", "vector id column", "vec_id"),
                ("embeddingCol", "array<float> column", "embedding"),
                ("k", "neighbors per query", "5"),
                ("queryTable", "table of query vectors (broadcast)", ""),
                ("queryFilter", "SQL predicate selecting query rows", "true"),
                ("maxQueryRows", "hard cap on the driver-side query collect", "100000")]


@register_et("LSHSimilaritySearch")
class LSHSimilaritySearch(ETAlgorithm):
    """Signed-random-projection LSH bucketed cosine search (scale path).

    numTables independent hash tables; each table hashes a vector to a
    `bitsPerTable`-bit signature from fixed pseudo-random hyperplanes
    (deterministic, seeded — reproducible across runs/engines).
    Candidates = corpus vectors sharing a signature with the query in
    any table; exact cosine re-rank on candidates only.

    Shuffle profile: explode by table (numTables×) → groupBy-join on
    (table, signature) — keys are hash-uniform; the final top-k window
    is keyed by query.  Recall tunable: more tables ↑recall ↑cost.
    """

    def train(self, df, path, params, context=None):
        import numpy as np
        id_col = params.get("idCol", "vec_id")
        col = params.get("embeddingCol", "embedding")
        k = get_int(params, "k", 5)
        if params.get("threshold") and not (params.get("numTables")
                                            or params.get("bitsPerTable")):
            # banding derived from the recall target instead of raw knobs
            bits, n_tables = derive_srp_banding(
                float(params["threshold"]),
                miss_prob=float(params.get("missProb", "1e-6")))
        else:
            n_tables = get_int(params, "numTables", 8)
            bits = get_int(params, "bitsPerTable", 8)
        seed = get_int(params, "seed", 42)
        df = ensure_parallelism(df)
        first = df.select(col).first()
        id_t0 = df.schema[id_col].dataType.simpleString()
        if first is None:
            return local_table(
                df.sparkSession, [], f"query_id {id_t0}, neighbor_id {id_t0}, "
                    "cosine double, rank int")
        dim = len(first[0])

        rng = np.random.RandomState(seed)
        # (T*B, dim) hyperplane matrix, broadcast once; signature = one
        # BLAS matmul per Arrow batch (see make_srp_udf).
        planes = rng.standard_normal((n_tables * bits, dim))
        srp_udf = make_srp_udf(df.sparkSession, planes, n_tables, bits)
        base = df.select(F.col(id_col).alias("__id"),
                         normalized_col(F.col(col)).alias("__v"))
        # queryFilter may reference original columns (e.g. vec_id) — it is
        # applied on __id-projected rows, so rewrite idCol to __id
        # script-lifetime backstop: if the eager path below doesn't run
        # (eagerCache=false / no safe checkpoint), the engine still
        # unpersists this when execute() returns
        with_sig = script_cache(
            base.select("__id", "__v", srp_udf(F.col("__v")).alias("__sigs")),
            context, "lsh_sig")

        expl = F.posexplode("__sigs")
        tables = with_sig.select("__id", expl).withColumnRenamed("pos", "__t") \
                         .withColumnRenamed("col", "__sig")
        # queryFilter evaluates against the ORIGINAL columns (semi-join
        # on id) — the old regex rewrite of idCol over the SQL string
        # mangled string literals and broke filters on other columns
        q_ids = (df.filter(F.expr(params.get("queryFilter", "true")))
                   .select(F.col(id_col).alias("__id")))
        queries = with_sig.join(q_ids, "__id", "left_semi")
        q_tables = (queries.select(F.col("__id").alias("query_id"), expl)
                    .withColumnRenamed("pos", "__t")
                    .withColumnRenamed("col", "__sig"))

        candidates = (tables.join(q_tables, ["__t", "__sig"])
                      .filter(F.col("__id") != F.col("query_id"))
                      .select("query_id", F.col("__id").alias("neighbor_id"))
                      .distinct())
        scored = (candidates
                  .join(with_sig.select(F.col("__id").alias("query_id"),
                                        F.col("__v").alias("__q")), "query_id")
                  .join(with_sig.select(F.col("__id").alias("neighbor_id"),
                                        F.col("__v").alias("__n")), "neighbor_id")
                  .select("query_id", "neighbor_id",
                          pair_dot_udf()(F.col("__q"), F.col("__n"))
                           .alias("cosine")))
        w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                                   F.col("neighbor_id"))
        out = (scored.withColumn("rank", F.row_number().over(w))
               .filter(F.col("rank") <= k)
               .select("query_id", "neighbor_id", "cosine", "rank"))
        # persist hygiene: `run` is an action in MLSQL semantics — eagerly
        # materialize the (small) top-k output and drop the corpus-sized
        # signature cache immediately, instead of leaking it for the
        # session (eagerCache="false" keeps the lazy plan for .explain).
        return eager_materialize(out, params, context, [with_sig])

    def explain_params(self):
        return [("idCol", "vector id column", "vec_id"),
                ("embeddingCol", "array<float> column", "embedding"),
                ("k", "neighbors per query", "5"),
                ("numTables", "LSH hash tables (recall knob)", "8"),
                ("bitsPerTable", "signature bits per table", "8"),
                ("threshold", "cosine target; derives banding when numTables/"
                              "bitsPerTable unset", ""),
                ("missProb", "per-pair miss budget for derived banding", "1e-6"),
                ("queryFilter", "SQL predicate selecting query rows", "true"),
                ("seed", "hyperplane seed", "42"),
                ("eagerCache", "materialize output, free signature cache", "true")]


@register_et("IVFSimilaritySearch")
class IVFSimilaritySearch(ETAlgorithm):
    """IVF (inverted-file) cosine top-k — the other classic ANN scale path.

    Index: spherical k-means centroids trained on a bounded driver-side
    sample (`trainSample` rows — standard IVF practice; index quality,
    not correctness, depends on the sample).  Queries are driver-bounded
    (same contract as SimilaritySearch); their probe cells are computed
    driver-side.  The corpus streams through ONE mapInPandas pass that
    fuses cell-assign + probe-mask + dot + batch-local top-k (batch
    selection uses the final merge order, so partials compose exactly);
    the only shuffle is partitions×|Q|×k partial rows.  Compute per
    batch is masked to ≈ nprobe/nlist of the query columns vs 1.0 for
    brute force; at 100 TB, persist the corpus bucketed by cell id and
    the scan itself prunes to the probed cells.

    `nprobe >= nlist` degenerates to exact brute-force search — that
    configuration is what the DuckDB oracle checks; recall at
    nprobe < nlist is the tunable approximation.

    With a persisted index built with `pqSubspaces`, `usePQ="auto"`
    switches the probe to ADC over the stored byte codes (column-pruned
    scan — id/cell/pq_code only) with optional exact `rerank`; the
    default usePQ="false" keeps exact vector scoring so the
    nprobe=nlist contract above never silently weakens.
    """

    def train(self, df, path, params, context=None):
        import numpy as np
        id_col = params.get("idCol", "vec_id")
        col = params.get("embeddingCol", "embedding")
        k = get_int(params, "k", 5)
        nlist = get_int(params, "nlist", 16)
        nprobe = min(get_int(params, "nprobe", 2), nlist)
        seed = get_int(params, "seed", 42)
        iters = get_int(params, "kmeansIter", 5)
        sample_n = get_int(params, "trainSample", 10000)
        df = ensure_parallelism(df)

        # raw arrays; L2 normalization happens in numpy (driver for
        # sample/queries, kernel for the corpus) — normalized_col is an
        # interpreted higher-order transform, a hot-path cost at 64 dims
        base = df.select(F.col(id_col).alias("__id"),
                         F.col(col).alias("__v"))

        _l2 = l2_rows

        # --- index: load persisted centroids when the path has them ---
        # (100 TB posture: train the index ONCE, reuse across query
        # batches — re-sampling + Lloyd per call wastes a corpus pass;
        # `retrain="true"` forces a rebuild)
        import json as _json
        import os as _os
        cent = None
        cent_file = _os.path.join(path, "centroids.json") if path else None
        # retrain against a persisted IVFIndexBuild corpus is a rendered
        # error, not a silent recall bug: retrain would overwrite
        # centroids.json while <path>/corpus stays partitioned by cells
        # assigned under the OLD centroids — every later partition-pruned
        # search (this one and all subsequent useIndex=true calls) would
        # then prune by a layout that disagrees with the stored one,
        # silently dropping true neighbors.
        if get_bool(params, "retrain", False) and path \
                and _os.path.isdir(_os.path.join(path, "corpus")):
            raise ValueError(
                f"IVFSimilaritySearch: retrain=\"true\" on {path!r} which "
                f"holds a persisted IVFIndexBuild corpus — retraining "
                f"would overwrite centroids.json while the corpus stays "
                f"partitioned under the old centroids, corrupting every "
                f"partition-pruned search.  Rebuild the whole index with "
                f"IVFIndexBuild (re-clusters AND rewrites the corpus), "
                f"or point retrain at a path without a corpus dir.")
        if cent_file and _os.path.exists(cent_file) \
                and not get_bool(params, "retrain", False):
            cent = load_centroids(path)
            nlist = len(cent)
            nprobe = min(nprobe, nlist)
        id_t = df.schema[id_col].dataType.simpleString()
        out_schema = f"query_id {id_t}, neighbor_id {id_t}, cosine double"
        if cent is None:
            # Lloyd iterations on a bounded driver sample
            sample_rows = base.select("__v").limit(sample_n).collect()
            if not sample_rows:
                # empty corpus: zero neighbors, not a numpy AxisError
                return local_table(
                    df.sparkSession, [], out_schema + ", rank int")
            sample = _l2(np.array([list(r[0]) for r in sample_rows],
                                  dtype=float))
            nlist = min(nlist, len(sample))
            nprobe = min(nprobe, nlist)
            cent = lloyd_spherical(sample, nlist, iters, seed)
            if cent_file:
                _os.makedirs(path, exist_ok=True)
                with open(cent_file, "w") as fh:
                    _json.dump(cent.tolist(), fh)
        # queries: driver-bounded like SimilaritySearch — a hard cap, not
        # a convention: the default queryFilter="true" would otherwise
        # collect the entire corpus to the driver
        # queryFilter evaluates against the ORIGINAL columns (semi-join
        # on id), not a regex-rewritten string over the projected plan
        q_ids = (df.filter(F.expr(params.get("queryFilter", "true")))
                   .select(F.col(id_col).alias("__id")))
        max_q = get_int(params, "maxQueryRows", 100_000)
        qrows = bounded_collect(base.join(q_ids, "__id", "left_semi")
                                    .select("__id", "__v"),
                                max_q, "IVFSimilaritySearch query set",
                                "maxQueryRows",
                                hint="narrow it with queryFilter")
        if not qrows:
            return local_table(
                df.sparkSession, [], out_schema + ", rank int")
        qids = np.array([r[0] for r in qrows])
        Q = _l2(np.array([list(r[1]) for r in qrows], dtype=float))
        probe = np.argsort(-(Q @ cent.T), kind="stable", axis=1)[:, :nprobe]
        member = np.zeros((max(len(qids), 1), nlist), dtype=bool)  # (q, nlist)
        for j in range(len(qids)):
            member[j, probe[j]] = True
        bc = df.sparkSession.sparkContext.broadcast((cent, qids, Q, member))
        kk = k

        # persisted IVFIndexBuild corpus at <path>/corpus: read it
        # partition-PRUNED to the probed cells — the scan itself skips
        # (nlist - nprobe)/nlist of the data before any compute (the
        # documented 100 TB posture, now executable).  The input df
        # then serves only as the query set.
        corpus_dir = _os.path.join(path, "corpus") if path else None
        scan = base
        use_corpus = bool(corpus_dir and _os.path.isdir(corpus_dir)
                          and get_bool(params, "useIndex", True))
        probed = sorted({int(c) for c in probe.ravel()})
        if use_corpus:
            scan = (df.sparkSession.read.parquet(corpus_dir)
                    .filter(F.col("cell").isin(probed))
                    .select(F.col(id_col).alias("__id"),
                            F.col(col).alias("__v")))

        # --- PQ (ADC) path: scan CODES, not vectors ------------------
        # When the index was built with pqSubspaces, the probe reads
        # only (id, cell, pq_code) — parquet column pruning skips the
        # embedding column entirely, so the scan I/O per row drops from
        # d floats to m bytes (32× at d=64, m=8).  Scores are
        # asymmetric-distance (Jégou et al. 2011): per-query lookup
        # tables over the codebooks, summed per subspace.  Approximate
        # by construction; `rerank="R"` exact-rescorse the top-R
        # ADC candidates against the stored vectors for near-exact
        # results at a bounded |Q|·R re-read.
        # OPT-IN: the nprobe=nlist exactness contract must not flip to
        # approximate just because the index happens to carry PQ codes —
        # "auto" (explicit) uses codes when present, "true" requires
        # them, the default "false" keeps exact vector scoring
        use_pq = params.get("usePQ", "false")
        if use_pq not in ("auto", "true", "false"):
            raise ValueError("usePQ must be false | auto | true")
        pq_file = _os.path.join(path, "pq_codebooks.json") if path else None
        pq_available = bool(use_corpus and pq_file
                            and _os.path.exists(pq_file))
        if use_pq == "true" and not pq_available:
            raise ValueError(
                "usePQ=\"true\" needs a persisted index built with "
                "IVFIndexBuild pqSubspaces=... at this path")
        if pq_available and use_pq != "false":
            with open(pq_file) as fh:
                books = np.array(_json.load(fh), dtype=float)
            n_sub, _, sub_d = books.shape
            lut = np.stack([Q[:, s * sub_d:(s + 1) * sub_d]
                            @ books[s].T
                            for s in range(n_sub)]).astype(np.float32)
            if lut.nbytes > (512 << 20):
                raise ValueError(
                    f"IVFSimilaritySearch PQ: the ADC lookup table for "
                    f"{len(qids)} queries would be "
                    f"{lut.nbytes >> 20} MiB — split the query batch "
                    f"(queryFilter/maxQueryRows)")
            rerank = get_int(params, "rerank", 0)
            topn = max(kk, rerank)
            bc_pq = df.sparkSession.sparkContext.broadcast(
                (lut, qids, member))

            def pq_topk(batches):
                import numpy as _np
                import pandas as _pd
                LUT, _qids, _member = bc_pq.value
                m_ = LUT.shape[0]
                for pdf in batches:
                    if not len(pdf) or not len(_qids):
                        continue
                    codes = _np.frombuffer(
                        b"".join(pdf["__code"]),
                        dtype=_np.uint8).reshape(len(pdf), m_)
                    cells = pdf["cell"].to_numpy()
                    cids = pdf["__id"].to_numpy()
                    oq, on, oc = [], [], []
                    # the score matrix is |Q|×batch float32 — at the
                    # default maxQueryRows=100k and a ~10k-row Arrow
                    # batch that is ~4 GB per task, which the 512 MiB
                    # driver-side LUT guard never sees.  Slice the
                    # query axis so the slab stays ≤64 MiB; top-k is
                    # per-query, so slicing changes nothing downstream
                    q_chunk = max(1, (64 << 20) // (4 * len(pdf)))
                    for q0 in range(0, len(_qids), q_chunk):
                        q1 = min(q0 + q_chunk, len(_qids))
                        S = _np.zeros((q1 - q0, len(pdf)),
                                      dtype=_np.float32)
                        for s in range(m_):
                            S += LUT[s][q0:q1][:, codes[:, s]]
                        for jj in range(q1 - q0):
                            j = q0 + jj
                            ok = _member[j, cells] & (cids != _qids[j])
                            idx = _np.nonzero(ok)[0]
                            if not idx.size:
                                continue
                            take = idx[_np.lexsort(
                                (cids[idx],
                                 -S[jj, idx].astype(float)))][:topn]
                            oq.extend([_qids[j]] * len(take))
                            on.extend(cids[take])
                            oc.extend(S[jj, take].astype(float))
                    yield _pd.DataFrame(
                        {"query_id": oq, "neighbor_id": on, "cosine": oc})

            scan_pq = (df.sparkSession.read.parquet(corpus_dir)
                       .filter(F.col("cell").isin(probed))
                       .select(F.col(id_col).alias("__id"), "cell",
                               F.col("pq_code").alias("__code")))
            partials = scan_pq.mapInPandas(pq_topk, out_schema)
            w = Window.partitionBy("query_id").orderBy(
                F.col("cosine").desc(), F.col("neighbor_id"))
            ranked = (partials.withColumn("rank",
                                          F.row_number().over(w))
                      .filter(F.col("rank") <= topn))
            if rerank == 0:
                return (ranked.filter(F.col("rank") <= kk)
                        .select("query_id", "neighbor_id",
                                F.round("cosine", 4).alias("cosine"),
                                "rank"))
            # exact re-rank: top-R ADC candidates re-scored against the
            # STORED vectors (|Q|·R rows — bounded, never corpus-sized)
            qdf = local_table(
                df.sparkSession, [(q, [float(x) for x in vec])
                 for q, vec in zip(qids.tolist(), Q)],
                f"query_id {id_t}, __qv array<double>")
            corpus_vecs = (df.sparkSession.read.parquet(corpus_dir)
                           .filter(F.col("cell").isin(probed))
                           .select(F.col(id_col).alias("neighbor_id"),
                                   F.col(col).alias("__nv")))
            exact_cos = F.pandas_udf(_make_pair_cosine(), "double")
            rescored = (ranked.select("query_id", "neighbor_id")
                        .join(corpus_vecs, "neighbor_id")
                        .join(F.broadcast(qdf), "query_id")
                        .withColumn("cosine",
                                    F.round(exact_cos(F.col("__qv"),
                                                      F.col("__nv")), 4)))
            w2 = Window.partitionBy("query_id").orderBy(
                F.col("cosine").desc(), F.col("neighbor_id"))
            return (rescored.withColumn("rank", F.row_number().over(w2))
                    .filter(F.col("rank") <= kk)
                    .select("query_id", "neighbor_id", "cosine", "rank"))

        # ONE mapInPandas pass fuses cell-assign + probe-mask + dot +
        # batch-local top-k (same exact-compositionality argument as
        # SimilaritySearch: batch selection uses the final merge order).
        # A 3-python-stage join formulation measured 3x slower here —
        # worker-pool spawns per stage dominate small-stage plans.
        def part_topk(batches):
            import numpy as _np
            import pandas as _pd
            C, _qids, _Q, _member = bc.value
            for pdf in batches:
                if not len(pdf) or not len(_qids):
                    continue
                M = _np.array([list(v) for v in pdf["__v"]], dtype=float)
                nn = _np.linalg.norm(M, axis=1, keepdims=True)
                nn[nn == 0] = 1.0
                M = M / nn
                cells = (M @ C.T).argmax(axis=1)            # (n,)
                S = _np.round(M @ _Q.T, 4)                  # (n, q)
                cids = pdf["__id"].to_numpy()
                oq, on, oc = [], [], []
                for j in range(len(_qids)):
                    ok = _member[j, cells] & (cids != _qids[j])
                    idx = _np.nonzero(ok)[0]
                    if not idx.size:
                        continue
                    take = idx[_np.lexsort((cids[idx], -S[idx, j]))][:kk]
                    oq.extend([_qids[j]] * len(take))
                    on.extend(cids[take])
                    oc.extend(S[take, j])
                yield _pd.DataFrame(
                    {"query_id": oq, "neighbor_id": on, "cosine": oc})

        partials = scan.mapInPandas(part_topk, out_schema)
        w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                                   F.col("neighbor_id"))
        return (partials.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= kk)
                .select("query_id", "neighbor_id", "cosine", "rank"))

    def explain_params(self):
        return [("idCol", "vector id column", "vec_id"),
                ("embeddingCol", "array<float> column", "embedding"),
                ("k", "neighbors per query", "5"),
                ("nlist", "number of IVF cells (centroids)", "16"),
                ("nprobe", "cells probed per query (recall knob)", "2"),
                ("trainSample", "driver-side k-means sample rows", "10000"),
                ("kmeansIter", "Lloyd iterations", "5"),
                ("retrain", "rebuild persisted centroids at path (rendered "
                 "error if <path>/corpus exists — use IVFIndexBuild)",
                 "false"),
                ("useIndex", "read the IVFIndexBuild corpus at "
                 "<path>/corpus, partition-pruned to probed cells",
                 "true"),
                ("usePQ", "scan PQ codes (ADC) instead of vectors: "
                 "false (exact vector scoring, the default — "
                 "nprobe=nlist stays exact) | auto (codes when the "
                 "index has them) | true (require codes)", "false"),
                ("rerank", "with usePQ: exact-rescore the top-"
                 "max(R, k) ADC candidates against stored vectors "
                 "(0 = pure ADC)", "0"),
                ("queryFilter", "SQL predicate selecting query rows", "true"),
                ("maxQueryRows", "hard cap on the driver-side query collect", "100000"),
                ("seed", "centroid init seed", "42")]


@register_et("IVFIndexBuild")
class IVFIndexBuild(ETAlgorithm):
    """Build a PERSISTED IVF index: spherical-k-means centroids
    (`centroids.json`, the same file IVFSimilaritySearch loads) plus
    the corpus written to `<path>/corpus` PARTITIONED BY its assigned
    cell — so a later IVFSimilaritySearch over the same path reads
    only the probed cells via parquet partition pruning
    (PartitionFilters in the scan, enforced by a plan test).  This is
    the executable form of the 100 TB posture the search documents:
    index once, every query batch scans ≈ nprobe/nlist of the corpus.

    `run corpus as IVFIndexBuild.`/idx` where nlist="64"` then
    `run queries as IVFSimilaritySearch.`/idx` where nprobe="4"`.
    Column names (idCol/embeddingCol) must match between build and
    search.  nprobe=nlist stays provably exact (every cell read).

    `append="true"` is the daily-ingest path: assign the NEW rows to
    the EXISTING centroids and append into the cell partitions — no
    re-cluster, no rewrite of the historical corpus (at 100 TB a full
    rebuild re-reads everything; an append touches only the increment).
    Centroids stay fixed, so the partition layout remains consistent
    and searches keep pruning correctly across generations; re-cluster
    periodically with a full rebuild when drift degrades recall."""

    def train(self, df, path, params, context=None):
        import json as _json
        import os as _os
        import numpy as np
        from pyspark.sql import types as T
        if not path:
            raise ValueError("IVFIndexBuild needs a path to write the "
                             "index to: IVFIndexBuild.`/some/dir`")
        col = params.get("embeddingCol", "embedding")
        nlist = get_int(params, "nlist", 16)
        seed = get_int(params, "seed", 42)
        iters = get_int(params, "kmeansIter", 5)
        sample_n = get_int(params, "trainSample", 10000)
        append = get_bool(params, "append", False)
        pq_m = get_int(params, "pqSubspaces", 0)
        # null embeddings cannot be assigned a cell (and would crash the
        # numpy stack) — drop them, matching the search kernels'
        # null-free contract
        base = ensure_parallelism(df.filter(F.col(col).isNotNull()))

        cent_file = _os.path.join(path, "centroids.json")
        pq_file = _os.path.join(path, "pq_codebooks.json")
        books = None
        if append:
            # BOTH index artifacts must exist: centroids.json alone can
            # come from a self-training IVFSimilaritySearch (which
            # persists centroids but no corpus) — appending there would
            # create a corpus holding ONLY the increment, and later
            # useIndex searches would silently treat it as the full
            # corpus (recall loss over everything not in the increment)
            if not _os.path.exists(cent_file) \
                    or not _os.path.isdir(_os.path.join(path, "corpus")):
                raise ValueError(
                    f"IVFIndexBuild: append=\"true\" but no complete "
                    f"index at {path!r} (needs centroids.json AND "
                    f"corpus/ from a prior IVFIndexBuild) — build it "
                    f"first with a plain IVFIndexBuild run")
            cent = load_centroids(path)
            nlist = len(cent)
            if _os.path.exists(pq_file):
                # appended rows must carry codes under the FROZEN
                # codebooks, or the PQ scan would see nulls
                with open(pq_file) as fh:
                    books = np.array(_json.load(fh), dtype=float)
        else:
            sample_rows = base.select(col).limit(sample_n).collect()
            if not sample_rows:
                raise ValueError("IVFIndexBuild: empty corpus")
            sample = l2_rows(np.array([list(r[0]) for r in sample_rows],
                                      dtype=float))
            nlist = min(nlist, len(sample))
            cent = lloyd_spherical(sample, nlist, iters, seed)
            if pq_m:
                books = train_pq_codebooks(sample, pq_m, iters, seed)

        bc = df.sparkSession.sparkContext.broadcast((cent, books))
        extra = [T.StructField("cell", T.IntegerType())]
        if books is not None:
            extra.insert(0, T.StructField("pq_code", T.BinaryType()))
        out_schema = T.StructType(df.schema.fields + extra)

        def assign_cells(batches):
            import numpy as _np
            C, B = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                M = _np.array([list(v) for v in pdf[col]], dtype=float)
                n2 = _np.linalg.norm(M, axis=1, keepdims=True)
                n2[n2 == 0] = 1.0
                M = M / n2
                pdf = pdf.copy()
                if B is not None:
                    pdf["pq_code"] = [c.tobytes()
                                      for c in pq_encode(M, B)]
                pdf["cell"] = (M @ C.T).argmax(axis=1)
                yield pdf

        corpus_dir = _os.path.join(path, "corpus")
        base.mapInPandas(assign_cells, out_schema) \
            .write.mode("append" if append else "overwrite") \
            .partitionBy("cell").parquet(corpus_dir)
        if not append:
            _os.makedirs(path, exist_ok=True)
            with open(cent_file, "w") as fh:
                _json.dump(cent.tolist(), fh)
            if books is not None:
                with open(pq_file, "w") as fh:
                    _json.dump(books.tolist(), fh)
            elif _os.path.exists(pq_file):
                # a fresh build WITHOUT pqSubspaces rewrites corpus/ and
                # centroids — a pq_codebooks.json left over from a prior
                # PQ build would make a later usePQ search select the
                # now-missing pq_code column (opaque AnalysisException);
                # the artifact belongs to the overwritten index, drop it
                _os.remove(pq_file)
        return local_table(
            df.sparkSession, [(path, int(nlist), int(cent.shape[1]),
              int(books.shape[0]) if books is not None else 0)],
            "path: string, nlist: int, dim: int, pq_subspaces: int")

    def explain_params(self):
        return [("embeddingCol", "array<float> column", "embedding"),
                ("nlist", "number of IVF cells (centroids)", "16"),
                ("trainSample", "driver-side k-means sample rows", "10000"),
                ("kmeansIter", "Lloyd iterations", "5"),
                ("append", "assign rows to the EXISTING centroids and "
                 "append into the cell partitions (incremental ingest; "
                 "no re-cluster; re-encodes PQ codes under the frozen "
                 "codebooks when the index has them)", "false"),
                ("pqSubspaces", "product-quantization subspaces m (0 = "
                 "no PQ; must divide the dim; 1 byte/subspace/vector — "
                 "searches can then scan codes instead of vectors)",
                 "0"),
                ("seed", "centroid init seed", "42")]
