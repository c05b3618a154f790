"""ET (Estimator/Transformer) operator base — the SQLAlg equivalent.

Reference interface: streaming/dsl/mmlib/SQLAlg.scala:27-64 —
``train(df, path, params)``, ``load(spark, path, params)``,
``predict(spark, model, name, params) -> UDF``, ``batchPredict``,
``explainParams``, ``modelType``, ``doc``, ``codeExample``.
"""

from __future__ import annotations

import itertools

from typing import TYPE_CHECKING, Any

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession
    from streamingpro_spark.context import ExecutionContext


class ETAlgorithm:
    """Base class for `train/run/predict/register` targets."""
    #: True when `path` is a table/job/connection NAME, not a
    #: filesystem path (the reference's skipPathPrefix): the engine
    #: must not home-prefix it
    skip_path_prefix = False

    #: "algorithm" (trains a model) or "processing" (pure transform)
    model_type: str = "processing"
    doc: str = ""

    # -- train / run ----------------------------------------------------
    def train(self, df: "DataFrame", path: str, params: dict[str, str],
              context: "ExecutionContext | None" = None) -> "DataFrame | None":
        raise NotImplementedError(f"{type(self).__name__}.train")

    # -- predict (batch) ------------------------------------------------
    def batch_predict(self, df: "DataFrame", path: str,
                      params: dict[str, str]) -> "DataFrame":
        raise NotImplementedError(f"{type(self).__name__}.batch_predict")

    # -- register as UDF ------------------------------------------------
    def load(self, spark: "SparkSession", path: str, params: dict[str, str],
             context: "ExecutionContext | None" = None) -> Any:
        raise NotImplementedError(f"{type(self).__name__}.load")

    def predict(self, spark: "SparkSession", model: Any, name: str,
                params: dict[str, str]) -> Any:
        raise NotImplementedError(f"{type(self).__name__}.predict")

    # -- self-describe --------------------------------------------------
    def explain_params(self) -> list[tuple[str, str, str]]:
        """(param, description, default) rows for `load modelParams.`X``."""
        return []


def get_bool(params: dict[str, str], key: str, default: bool = False) -> bool:
    return params.get(key, str(default)).strip().lower() in ("true", "1", "yes")


def get_int(params: dict[str, str], key: str, default: int) -> int:
    return int(params.get(key, default))


def get_float(params: dict[str, str], key: str, default: float) -> float:
    return float(params.get(key, default))


def refuse_scratch_collisions(df: "DataFrame", et_name: str,
                              scratch: dict[str, str]) -> None:
    """Refuse input columns named like a scratch column this run creates
    (`scratch`: name → why) — it would be overwritten, then dropped."""
    clash = sorted(set(scratch) & set(df.columns))
    if clash:
        why = "; ".join(f"{c}: {scratch[c]}" for c in clash)
        raise ValueError(
            f"{et_name}: input column(s) {clash} collide with scratch "
            f"columns this run creates ({why}) — rename them before "
            f"running {et_name}")


def local_table(spark: "SparkSession", rows, schema) -> "DataFrame":
    """A table of driver-side rows (tuples, Rows or dicts) under `schema`
    (a DDL string or a StructType), as a `LocalRelation`.

    `spark.createDataFrame(<python rows>, schema)` plans a LogicalRDD
    over a PythonRDD, so every action that scans it starts Python
    workers.  The rows go to the JVM as one `pyarrow.Table` instead,
    whatever `spark.sql.execution.arrow.pyspark.enabled` says; above
    `spark.sql.execution.arrow.localRelationThreshold` the JVM keeps
    them as a JVM-side RDD, still with no Python.  The table may be
    empty."""
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    rows = list(rows)
    table = (LocalDataToArrowConversion.convert(rows, schema, False) if rows
             else to_arrow_schema(schema).empty_table())
    return spark.createDataFrame(table, schema)


def ensure_parallelism(df: "DataFrame", min_partitions: int | None = None) -> "DataFrame":
    """Spread a narrow input across the cluster before compute-heavy
    per-row work.  Small single-file inputs arrive as 1 partition and
    would serialize the whole operator on one core; at 100 TB the scan
    already yields partitions ≫ cores, so this is a no-op (the partition
    count check does not trigger a job)."""
    if df.isStreaming:
        # .rdd is illegal on a streaming DF, and micro-batch partitioning
        # is the source's job (maxFilesPerTrigger / kafka partitions) —
        # pass through so mapInPandas ETs keep working on streams
        return df
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def pushdown_barrier(df: "DataFrame", tag: str) -> "DataFrame":
    """Optimizer barrier between computed metric columns and a
    downstream filter on them (optimization round 12).

    Why: PushDownPredicates substitutes projected aliases into a
    pushed filter condition with NO cost model — a `keep` conjunction
    over seven metric columns becomes one giant Filter condition that
    re-derives every metric (and everything beneath it, e.g. an
    upstream TextNormalize regex chain) once PER PREDICATE, falls out
    of whole-stage codegen (so no runtime subexpression elimination),
    and is then pushed below the ensure_parallelism spread, where it
    runs at the input's native partition count.  Measured in the lake
    cache-build plan: ~20 normalize-chain evaluations per row,
    interpreted, on 6 of 32 cores (~17 executor-CPU-sec for 5.5k
    rows).

    CollectMetrics (`df.observe`) is the cheapest row-preserving plan
    node the optimizer must not move a filter across (observed row
    counts would change): one count accumulator per task, no exchange,
    no Python, and column pruning still passes through it.  Names are
    `__barrier_<tag>_<n>`, n from a process-wide counter: unique per
    call, yet plan text is reproducible across runs.  Identical
    subtrees may still appear twice in one query (e.g. a dedup
    self-union) — verified legal."""
    from pyspark.sql import functions as F
    if df.isStreaming:
        # observe() is legal on streams, but streaming queries in this
        # engine never compose a pushable filter over ET metrics, and
        # per-batch metric bookkeeping is pure overhead — pass through
        return df
    return df.observe(f"__barrier_{tag}_{next(_BARRIER_IDS)}",
                      F.count(F.lit(1)).alias("rows"))


_BARRIER_IDS = itertools.count()


def flatten_unions(df: "DataFrame") -> "DataFrame":
    """Pre-apply Catalyst's CombineUnions so the plan is stable under
    `Dataset.union` (optimization round 11).

    Why: `Dataset.union`/`unionByName` eagerly runs CombineUnions over
    the WHOLE combined logical plan — flattening nested Unions deep
    inside both operands' lineages, not just the new top-level one.  A
    consumer that unions a cached table therefore carries a FLATTENED
    copy of the cached lineage, which no longer `sameResult`s the
    cached (nested) plan, and CacheManager substitution silently
    misses — measured in lake_day_ingest's NearDedup stage, where the
    LSH band branches (built via unionByName) recomputed the whole
    curation+bloom lineage from raw parquet (~27 executor-CPU-sec at
    sf0.1, three 6-task stages) while the verify branch (joined, never
    unioned) hit the cache.  Caching the flattened plan makes the
    consumer-side flattening a no-op (CombineUnions is idempotent), so
    every reference matches.  Result-identical by construction: the
    optimizer applies CombineUnions before execution anyway, so the
    physical plan is unchanged — only the analyzed-plan cache key is
    normalized.

    Returns df unchanged when the plan has no nested unions (the rule
    returns the identical object) or when any internal API is
    unavailable (plain fallback keeps caching working as before, but a
    one-time warning makes the silently-degraded cache behavior
    observable — a Spark layout change would otherwise reintroduce the
    measured full-lineage recompute with no signal)."""
    if df.isStreaming:
        return df
    try:
        spark = df.sparkSession
        jvm = spark.sparkContext._jvm
        jplan = df._jdf.queryExecution().analyzed()
        flat = jvm.org.apache.spark.sql.catalyst.optimizer.CombineUnions \
            .apply(jplan)
        if jvm.System.identityHashCode(flat) == \
                jvm.System.identityHashCode(jplan):
            return df
        jdf = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, flat)
        from pyspark.sql.classic.dataframe import DataFrame as _CDF
        return _CDF(jdf, spark)
    except Exception as exc:
        global _FLATTEN_UNIONS_WARNED
        if not _FLATTEN_UNIONS_WARNED:
            _FLATTEN_UNIONS_WARNED = True
            import warnings
            warnings.warn(
                "flatten_unions: Spark-internal CombineUnions entry "
                f"points unavailable ({type(exc).__name__}: {exc}); "
                "caching falls back to the unflattened plan — union "
                "consumers of cached tables may silently miss the "
                "cache (see base.flatten_unions)",
                RuntimeWarning, stacklevel=2)
        return df


_FLATTEN_UNIONS_WARNED = False


def _checkpoint_file_of(df: "DataFrame") -> str | None:
    """The exact rdd-N checkpoint path of a checkpointed DataFrame: its
    analyzed plan is a LogicalRDD whose rdd carries getCheckpointFile —
    no directory listing, so concurrent sessions can't mis-attribute
    each other's files."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        opt = plan.rdd().getCheckpointFile()
        return opt.get() if opt.isDefined() else None
    except Exception:
        return None


def eager_materialize(df: "DataFrame", params: dict[str, str],
                      context=None, caches=()) -> "DataFrame":
    """Materialize a small ET output so corpus-sized upstream caches can
    be unpersisted immediately (MLSQL `run` is an action): when it
    materializes, each of the caller's `caches` is unpersisted.

    Prefers a RELIABLE checkpoint when `setCheckpointDir` is configured —
    localCheckpoint stores partitions on executor-local storage, so under
    dynamic allocation or executor loss the truncated lineage is
    unrecoverable (Spark docs warn explicitly).  Falls back to
    localCheckpoint only when no checkpoint dir is set AND dynamic
    allocation is off; otherwise keeps the lazy plan (safe), and the
    caches stay (`would_eager_materialize` decides).

    Checkpoint-file lifecycle: Spark auto-deletes reliable checkpoint
    files only when ``spark.cleaner.referenceTracking.cleanCheckpoints``
    was true at session BUILD time (ContextCleaner reads it once), so a
    long-lived session leaks them otherwise.  When ``context`` is given,
    the file is tracked in ``context.checkpoint_files`` and freed by
    ``Engine.close()`` on session teardown (they cannot be freed at
    script end — the materialized view outlives the script)."""
    if not would_eager_materialize(df, params):
        return df
    if df.sparkSession.sparkContext.getCheckpointDir():
        mat = df.checkpoint(eager=True)
        ck = _checkpoint_file_of(mat) if context is not None else None
        if ck:
            context.checkpoint_files.append(ck)
    else:
        mat = df.localCheckpoint(eager=True)
    for cache in caches:
        cache.unpersist()
    return mat


def would_eager_materialize(df: "DataFrame",
                            params: dict[str, str]) -> bool:
    """True when ``eager_materialize(df', params)`` on this session
    MATERIALIZES (reliable checkpoint or localCheckpoint) rather than
    returning the lazy plan — the one place that decision is made.
    Lets a composer that feeds an inner ET's output into several
    downstream actions know whether that output is already a truncated,
    computed RDD (no second cache barrier needed) or still lazy (a
    persist+count is load-bearing to avoid re-running the inner
    pipeline per action)."""
    if params.get("eagerCache", "true").lower() == "false":
        return False
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir():
        return True
    dyn = sc.getConf().get("spark.dynamicAllocation.enabled", "false")
    return dyn.lower() != "true"


def script_cache(df: "DataFrame", context, tag: str) -> "DataFrame":
    """Persist an intermediate for at most the current script's lifetime:
    the engine unpersists every script-lifetime cache when execute()
    returns (engine.py finally block), so a long-lived REST session never
    accumulates executor memory from ET internals."""
    cached = df.persist()
    if context is not None:
        context.cached_tables[f"__et_{tag}_{id(df)}"] = (cached, "script")
    return cached
