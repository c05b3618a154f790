"""ML algorithm ETs — thin wrappers over pyspark.ml (SURVEY.md §2.4).

Reference pattern (streaming/dsl/mmlib/algs/SQL*.scala, e.g.
SQLRandomForest.scala:38-120): `train` fits and saves to path,
`batchPredict` loads + transforms, `register ... as fn` builds a
vector→prediction UDF.  `keepVersion="true"` writes `_model_N` path
suffixes and load/predict resolve the LATEST version (reference
algs/MetaConst.scala convention); without it, plain overwrite.
Version scan uses the local filesystem (tests/CLI); a DFS deploy
would swap `_list_versions` for a Hadoop FS listing.

Input convention (same as reference): a `features` vector column (build
with vec_dense(...) from the built-in function library) + `label`.
"""

from __future__ import annotations

import os
from typing import Any

from streamingpro_spark.operators.base import ETAlgorithm, local_table
from streamingpro_spark.operators.registry import register_et


class _MLWrapper(ETAlgorithm):
    model_type = "algorithm"
    estimator_cls: Any = None
    model_cls: Any = None
    #: params forwarded to the estimator as-is (string → proper type by Param)
    int_params: tuple = ()
    float_params: tuple = ()
    str_params: tuple = ()

    def _estimator(self, params: dict[str, str]):
        kwargs: dict[str, Any] = {}
        for p in self.int_params:
            if p in params:
                kwargs[p] = int(params[p])
        for p in self.float_params:
            if p in params:
                kwargs[p] = float(params[p])
        for p in self.str_params:
            if p in params:
                kwargs[p] = params[p]
        return self.estimator_cls(**kwargs)

    @staticmethod
    def _list_versions(path: str) -> list[int]:
        try:
            return sorted(int(d[len("_model_"):]) for d in os.listdir(path)
                          if d.startswith("_model_")
                          and d[len("_model_"):].isdigit())
        except OSError:
            return []

    def _resolve_path(self, path: str, params: dict, for_write: bool) -> str:
        keep = str(params.get("keepVersion", "false")).lower() == "true"
        versions = self._list_versions(path) if path else []
        if for_write:
            if not keep:
                return path
            return os.path.join(path, f"_model_{(versions[-1] + 1) if versions else 0}")
        # read: latest version if any exist (keepVersion-written models),
        # else the plain path
        if versions:
            return os.path.join(path, f"_model_{versions[-1]}")
        return path

    def train(self, df, path, params, context=None):
        est = self._estimator(params)
        model = est.fit(df)
        real = self._resolve_path(path, params, for_write=True)
        if path:
            model.write().overwrite().save(os.path.join(real, "model"))
        spark = df.sparkSession
        return local_table(
            spark, [(type(model).__name__, real, str(est.extractParamMap()))],
            "modelType: string, path: string, params: string")

    def load(self, spark, path, params, context=None):
        real = self._resolve_path(path, params or {}, for_write=False)
        return self.model_cls.load(os.path.join(real, "model"))

    def batch_predict(self, df, path, params):
        real = self._resolve_path(path, params or {}, for_write=False)
        model = self.model_cls.load(os.path.join(real, "model"))
        return model.transform(df)

    def predict(self, spark, model, name, params):
        """Register a vector→prediction UDF (reference
        SQLRandomForest.scala:113+).  JavaModels are neither picklable
        nor executor-usable, so serving extracts the parameters into a
        pure-numpy closure (operators/serving.py)."""
        from streamingpro_spark.operators.serving import extract_predictor
        raw = params.get("__path__")
        # keepVersion models live under path/_model_N — the tree-ensemble
        # serving path reads files from disk, so it needs the SAME
        # resolved path load() used, not the raw register path
        real = self._resolve_path(raw, params or {}, for_write=False) if raw else raw
        fn = extract_predictor(model, real, spark=spark)
        return spark.udf.register(name, fn, "double")


def _make(name: str, est_path: str, model_path: str, ints=(), floats=(), strs=()):
    import importlib
    e_mod, e_cls = est_path.rsplit(".", 1)
    m_mod, m_cls = model_path.rsplit(".", 1)

    @register_et(name)
    class _Alg(_MLWrapper):
        estimator_cls = getattr(importlib.import_module(e_mod), e_cls)
        model_cls = getattr(importlib.import_module(m_mod), m_cls)
        int_params = ints
        float_params = floats
        str_params = strs

    _Alg.__name__ = name
    _Alg.__doc__ = f"pyspark.ml wrapper: {e_cls} (reference SQL{name}.scala)"
    return _Alg


_make("RandomForest",
      "pyspark.ml.classification.RandomForestClassifier",
      "pyspark.ml.classification.RandomForestClassificationModel",
      ints=("numTrees", "maxDepth", "seed"), strs=("labelCol", "featuresCol"))
_make("LogisticRegression",
      "pyspark.ml.classification.LogisticRegression",
      "pyspark.ml.classification.LogisticRegressionModel",
      ints=("maxIter",), floats=("regParam", "elasticNetParam"),
      strs=("labelCol", "featuresCol"))
_make("NaiveBayes",
      "pyspark.ml.classification.NaiveBayes",
      "pyspark.ml.classification.NaiveBayesModel",
      floats=("smoothing",), strs=("labelCol", "featuresCol", "modelType"))
_make("GBTs",
      "pyspark.ml.classification.GBTClassifier",
      "pyspark.ml.classification.GBTClassificationModel",
      ints=("maxIter", "maxDepth", "seed"), strs=("labelCol", "featuresCol"))
_make("LSVM",
      "pyspark.ml.classification.LinearSVC",
      "pyspark.ml.classification.LinearSVCModel",
      ints=("maxIter",), floats=("regParam",), strs=("labelCol", "featuresCol"))
_make("LinearRegressionExt",
      "pyspark.ml.regression.LinearRegression",
      "pyspark.ml.regression.LinearRegressionModel",
      ints=("maxIter",), floats=("regParam", "elasticNetParam"),
      strs=("labelCol", "featuresCol"))
_make("GBTRegressor",
      "pyspark.ml.regression.GBTRegressor",
      "pyspark.ml.regression.GBTRegressionModel",
      ints=("maxIter", "maxDepth", "seed"), strs=("labelCol", "featuresCol"))
_make("KMeans",
      "pyspark.ml.clustering.KMeans",
      "pyspark.ml.clustering.KMeansModel",
      ints=("k", "maxIter", "seed"), strs=("featuresCol",))
_make("LDA",
      "pyspark.ml.clustering.LDA",
      "pyspark.ml.clustering.LocalLDAModel",
      ints=("k", "maxIter", "seed"), strs=("featuresCol",))
_make("FPGrowth",
      "pyspark.ml.fpm.FPGrowth",
      "pyspark.ml.fpm.FPGrowthModel",
      floats=("minSupport", "minConfidence"), strs=("itemsCol",))
_make("ALSInPlace",
      "pyspark.ml.recommendation.ALS",
      "pyspark.ml.recommendation.ALSModel",
      ints=("rank", "maxIter", "seed"), floats=("regParam",),
      strs=("userCol", "itemCol", "ratingCol"))
_make("Word2Vec",
      "pyspark.ml.feature.Word2Vec",
      "pyspark.ml.feature.Word2VecModel",
      ints=("vectorSize", "minCount", "seed"), strs=("inputCol", "outputCol"))
_make("StandardScaler",
      "pyspark.ml.feature.StandardScaler",
      "pyspark.ml.feature.StandardScalerModel",
      strs=("inputCol", "outputCol"))


class _TfIdfFamily(ETAlgorithm):
    """Shared train/load/predict for the two standalone TF-IDF algorithms
    (reference SQLTfIdf.scala / SQLHashTfIdf.scala, registry
    TrainAdaptor.scala:124-168): term-frequency vectorize the input
    column, fit an IDF model, save it; `register ... as fn` serves a
    terms→tfidf-vector UDF from a pure-numpy closure (the reference
    rebuilds an mllib HashingTF inside its serving UDF the same way)."""

    model_type = "algorithm"

    def _tf(self, df, input_col: str, n: int):
        raise NotImplementedError

    def _meta(self, path: str) -> dict:
        import json
        with open(os.path.join(path, "meta.json")) as fh:
            return json.load(fh)

    def train(self, df, path, params, context=None):
        import json

        from pyspark.ml.feature import IDF
        input_col = params.get("inputCol", "words")
        out_col = params.get("outputCol", "tfidf")
        n = int(params.get("numFeatures", str(1 << 18)))
        feat = self._tf(df, input_col, n)
        idf = IDF(inputCol="__SQLTfIdf__", outputCol=out_col,
                  minDocFreq=int(params.get("minDocFreq", "0")))
        model = idf.fit(feat)
        if path:
            model.write().overwrite().save(os.path.join(path, "model"))
            os.makedirs(path, exist_ok=True)
            with open(os.path.join(path, "meta.json"), "w") as fh:
                json.dump({"numFeatures": n, "inputCol": input_col,
                           "outputCol": out_col}, fh)
        spark = df.sparkSession
        return local_table(
            spark, [(type(self).__name__, path, n)],
            "modelType: string, path: string, numFeatures: int")

    def batch_predict(self, df, path, params):
        from pyspark.ml.feature import IDFModel
        meta = self._meta(path)
        model = IDFModel.load(os.path.join(path, "model"))
        feat = self._tf(df, params.get("inputCol", meta["inputCol"]),
                        meta["numFeatures"])
        return model.transform(feat).drop("__SQLTfIdf__")

    def load(self, spark, path, params, context=None):
        import numpy as np
        from pyspark.ml.feature import IDFModel
        meta = self._meta(path)
        model = IDFModel.load(os.path.join(path, "model"))
        return {"idf": np.asarray(model.idf.toArray()), "meta": meta}


@register_et("TfIdf")
class TfIdf(_TfIdfFamily):
    """TF-IDF over pre-tokenized integer term ids: vector index =
    id mod numFeatures (reference SQLTfIdf.scala uses IntTF — identity
    hash — which has no public Spark equivalent, so the TF vector is
    built by a small UDF; the IDF fit/transform stays JVM-side)."""

    def _tf(self, df, input_col: str, n: int):
        from pyspark.ml.linalg import VectorUDT
        from pyspark.sql import functions as F

        def int_tf(ids):
            # nested so cloudpickle ships it by value (no repo import
            # needed on executors)
            from collections import Counter

            from pyspark.ml.linalg import Vectors
            counts = Counter(int(t) % n for t in (ids or []))
            idx = sorted(counts)
            return Vectors.sparse(n, idx, [float(counts[i]) for i in idx])

        fn = F.udf(int_tf, VectorUDT())
        return df.withColumn("__SQLTfIdf__", fn(F.col(input_col)))

    def predict(self, spark, model, name, params):
        idf = model["idf"]
        n = int(model["meta"]["numFeatures"])

        def tfidf(ids):
            from collections import Counter

            from pyspark.ml.linalg import Vectors
            counts = Counter(int(t) % n for t in (ids or []))
            idx = sorted(counts)
            return Vectors.sparse(n, idx,
                                  [float(counts[i]) * float(idf[i])
                                   for i in idx])

        from pyspark.ml.linalg import VectorUDT
        return spark.udf.register(name, tfidf, VectorUDT())


@register_et("HashTfIdf")
class HashTfIdf(_TfIdfFamily):
    """TF-IDF over string terms via murmur3 HashingTF with binary term
    counts (reference SQLHashTfIdf.scala:40-47 — HashingTF(binary=true) +
    IDF).  Train/batch-predict hash JVM-side (ml.feature.HashingTF); the
    serving UDF re-implements the standard murmur3_x86_32(seed=42) hash
    in pure python — tests pin it against the JVM indices."""

    def _tf(self, df, input_col: str, n: int):
        from pyspark.ml.feature import HashingTF
        tf = HashingTF(inputCol=input_col, outputCol="__SQLTfIdf__",
                       numFeatures=n, binary=True)
        return tf.transform(df)

    def predict(self, spark, model, name, params):
        idf = model["idf"]
        n = int(model["meta"]["numFeatures"])

        def hash_tfidf(words):
            from pyspark.ml.linalg import Vectors

            def murmur3(data: bytes, seed: int = 42) -> int:
                c1, c2 = 0xCC9E2D51, 0x1B873593
                h = seed
                m = 0xFFFFFFFF
                nblocks = len(data) // 4
                for b in range(nblocks):
                    k = int.from_bytes(data[b * 4:b * 4 + 4], "little")
                    k = (k * c1) & m
                    k = ((k << 15) | (k >> 17)) & m
                    k = (k * c2) & m
                    h ^= k
                    h = ((h << 13) | (h >> 19)) & m
                    h = (h * 5 + 0xE6546B64) & m
                k = 0
                for shift, byte in enumerate(data[nblocks * 4:]):
                    k ^= byte << (8 * shift)
                if k:
                    k = (k * c1) & m
                    k = ((k << 15) | (k >> 17)) & m
                    k = (k * c2) & m
                    h ^= k
                h ^= len(data)
                h ^= h >> 16
                h = (h * 0x85EBCA6B) & m
                h ^= h >> 13
                h = (h * 0xC2B2AE35) & m
                h ^= h >> 16
                # to signed 32-bit, then non-negative mod (Scala
                # Utils.nonNegativeMod on the signed hash)
                if h >= 1 << 31:
                    h -= 1 << 32
                return ((h % n) + n) % n

            idx = sorted({murmur3(w.encode("utf-8")) for w in (words or [])})
            return Vectors.sparse(n, idx, [float(idf[i]) for i in idx])

        from pyspark.ml.linalg import VectorUDT
        return spark.udf.register(name, hash_tfidf, VectorUDT())


@register_et("PageRank")
class PageRank(ETAlgorithm):
    """PageRank over an edge table (reference: SQLPageRank.scala uses
    GraphX, which has no Python API) — re-expressed as iterative
    DataFrame joins: rank_{t+1} = (1-d) + d * Σ rank_t/outdeg over
    in-edges.  Shuffle per iteration on the join key (vertex id); the
    edge table is re-used (cache it).  maxIter bounds cost."""

    def train(self, df, path, params, context=None):
        from pyspark.sql import functions as F
        src = params.get("srcCol", "src")
        dst = params.get("dstCol", "dst")
        d = float(params.get("dampingFactor", "0.85"))
        iters = int(params.get("maxIter", "10"))
        from streamingpro_spark.operators.base import script_cache
        edges = script_cache(
            df.select(F.col(src).alias("src"), F.col(dst).alias("dst")),
            context, "pagerank_edges")
        verts = edges.select(F.col("src").alias("id")) \
                     .union(edges.select(F.col("dst").alias("id"))).distinct()
        outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
        ranks = verts.withColumn("rank", F.lit(1.0))
        for _ in range(iters):
            contrib = (edges.join(ranks, edges.src == ranks.id)
                       .join(outdeg, "src")
                       .select(F.col("dst").alias("id"),
                               (F.col("rank") / F.col("outdeg")).alias("c")))
            ranks = (verts.join(contrib.groupBy("id").agg(F.sum("c").alias("s")),
                                "id", "left")
                     .select("id", (F.lit(1 - d) + F.lit(d) * F.coalesce(F.col("s"), F.lit(0.0))).alias("rank")))
        return ranks.select("id", F.round("rank", 6).alias("pagerank"))

    def explain_params(self):
        return [("srcCol", "edge source column", "src"),
                ("dstCol", "edge destination column", "dst"),
                ("dampingFactor", "PageRank damping", "0.85"),
                ("maxIter", "iterations", "10")]


# reference registry name variants (TrainAdaptor.scala:124-168)
from streamingpro_spark.operators.registry import alias_et  # noqa: E402

alias_et("LogisticRegressor", "LogisticRegression")
