"""Table/data utility ETs (SURVEY.md §2.4 "Table/data utilities").

Each class documents the reference implementation it re-expresses.
All are pure DataFrame compositions — no driver-side collects on big
tables (the one place the reference collects, RateSampler's
isSplitWithSubLabel, is re-done with window functions here).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import Window, functions as F

from streamingpro_spark.operators.base import (ETAlgorithm, flatten_unions,
                                               get_bool, get_int, local_table)
from streamingpro_spark.operators.registry import register_et

if TYPE_CHECKING:
    from pyspark.sql import DataFrame


@register_et("TableRepartition")
class TableRepartition(ETAlgorithm):
    """Repartition by count and/or columns
    (reference: external/mlsql-ets/.../TableRepartition.scala:16-60)."""

    def train(self, df, path, params, context=None):
        n = params.get("partitionNum")
        cols = [c.strip() for c in params.get("partitionCols", "").split(",") if c.strip()]
        shuffle = get_bool(params, "shuffle", True)
        if params.get("partitionType") == "range":
            if not cols:
                raise ValueError(
                    'partitionType="range" requires partitionCols — '
                    "range partitioning has no columns to order by")
            return df.repartitionByRange(int(n), *cols) if n else df.repartitionByRange(*cols)
        if n and not shuffle:
            return df.coalesce(int(n))
        if n and cols:
            return df.repartition(int(n), *cols)
        if n:
            return df.repartition(int(n))
        if cols:
            return df.repartition(*cols)
        return df

    def explain_params(self):
        return [("partitionNum", "target partition count", ""),
                ("partitionCols", "comma-separated hash partition columns", ""),
                ("partitionType", "hash|range", "hash"),
                ("shuffle", "false → coalesce instead of full shuffle", "true")]


@register_et("Pivot")
class Pivot(ETAlgorithm):
    """groupBy + pivot + agg (reference: external/mlsql-ets/.../Pivot.scala:20-35)."""

    def train(self, df, path, params, context=None):
        group_cols = [c.strip() for c in params.get("groupCols", "").split(",") if c.strip()]
        pivot_col = params["pivotCol"]
        values = [v.strip() for v in params.get("pivotValues", "").split(",") if v.strip()]
        agg_expr = params.get("aggExpr", "count(1)")
        gp = df.groupBy(*group_cols)
        pv = gp.pivot(pivot_col, values) if values else gp.pivot(pivot_col)
        return pv.agg(F.expr(agg_expr))

    def explain_params(self):
        return [("groupCols", "comma-separated group columns", ""),
                ("pivotCol", "column whose values become output columns", ""),
                ("pivotValues", "optional explicit pivot values (avoids a distinct scan)", ""),
                ("aggExpr", "aggregate SQL expression", "count(1)")]


@register_et("RateSampler")
class RateSampler(ETAlgorithm):
    """Per-label stratified split adding a __split__ column
    (reference: streaming/dsl/mmlib/algs/SQLRateSampler.scala:34-140).

    The reference's exact mode (isSplitWithSubLabel) collects per-label
    groups to the driver (:77-100) — re-expressed here fully
    distributed: row_number over a per-label window, split by exact
    cumulative thresholds.  Scale note: one shuffle on labelCol; skewed
    labels are handled by Spark AQE; no driver collect.
    """

    def train(self, df, path, params, context=None):
        label = params.get("labelCol", "label")
        rates = [float(x) for x in params.get("sampleRate", "0.9,0.1").split(",")]
        w = Window.partitionBy(label).orderBy(F.rand(seed=get_int(params, "seed", 42)))
        cnt_w = Window.partitionBy(label)
        ranked = (df.withColumn("__rn", F.row_number().over(w))
                    .withColumn("__cnt", F.count(F.lit(1)).over(cnt_w)))
        # exact per-label slicing: cumulative rate thresholds on row_number
        split_col = None
        cum = 0.0
        for i, r in enumerate(rates[:-1]):
            cum += r
            cond = F.col("__rn") <= F.col("__cnt") * F.lit(cum)
            split_col = F.when(cond, i) if split_col is None else split_col.when(cond, i)
        split_col = (split_col.otherwise(len(rates) - 1) if split_col is not None
                     else F.lit(0))
        return ranked.withColumn("__split__", split_col.cast("int")) \
                     .drop("__rn", "__cnt")

    def explain_params(self):
        return [("labelCol", "stratification column", "label"),
                ("sampleRate", "comma-separated split rates", "0.9,0.1"),
                ("seed", "shuffle seed", "42")]


@register_et("CacheExt")
class CacheExt(ETAlgorithm):
    """Explicit cache/uncache with lifecycle
    (reference: streaming/dsl/mmlib/algs/SQLCacheExt.scala:36-122)."""

    def train(self, df, path, params, context=None):
        execute = params.get("execute", "cache")
        eager = get_bool(params, "isEager", True)
        if execute == "uncache":
            df.unpersist()
            if context is not None:
                context.cached_tables.pop(params.get("__table__", ""), None)
            return df
        if execute not in ("cache",):
            raise ValueError(f"CacheExt: unknown execute {execute!r}")
        # normalize union nesting BEFORE registering the cache entry and
        # re-point the view at the normalized plan: consumers that union
        # this table flatten its lineage (Dataset.union runs
        # CombineUnions over the whole plan) and would otherwise miss
        # the cache entirely — see base.flatten_unions for the measured
        # lake_day_ingest case.  Only worth doing when there IS a view
        # to re-point: on direct API use (no __table__) consumers hold
        # the ORIGINAL df, so persisting a flattened copy would make
        # every consumer — unioned or not — miss the cache (round-12
        # advice fix)
        tbl = params.get("__table__", "")
        flat = flatten_unions(df) if tbl else df
        if flat is not df:
            flat.createOrReplaceTempView(tbl)
            # persist the exact plan consumers will resolve via
            # spark.table(tbl) so the cache key and every reference
            # share one canonical form
            flat = df.sparkSession.table(tbl)
        cached = flat.persist()
        if eager:
            cached.count()
        if context is not None:
            life = params.get("lifeTime", "script")
            context.cached_tables[params.get("__table__", str(id(df)))] = \
                (cached, life)
        return cached

    def explain_params(self):
        return [("execute", "cache|uncache", "cache"),
                ("isEager", "materialize immediately", "true"),
                ("lifeTime", "script|session (script-scope auto-unpersists)", "script")]


@register_et("AutoIncrementKeyExt")
class AutoIncrementKeyExt(ETAlgorithm):
    """Add a dense auto-increment id column
    (reference: SQLAutoIncrementKeyExt.scala).  Uses zipWithIndex-style
    window only when `dense`=true; default monotonically_increasing_id
    is shuffle-free and scale-safe."""

    def train(self, df, path, params, context=None):
        col = params.get("idCol", "id")
        if get_bool(params, "dense", False):
            w = Window.orderBy(F.monotonically_increasing_id())
            return df.withColumn(col, F.row_number().over(w) - 1)
        return df.withColumn(col, F.monotonically_increasing_id())


@register_et("TreeBuildExt")
class TreeBuildExt(ETAlgorithm):
    """Hierarchy closure from (id, parentId) edges — per-node level and
    full descendant set (reference: SQLTreeBuildExt.scala:37-130).

    Iterative frontier-joins-edges expansion, one level per round
    (each frontier cached so rounds are O(frontier), not a re-execution
    of the whole lineage), cycle-guarded by maxDepth.
    """

    def train(self, df, path, params, context=None):
        id_col = params.get("idCol", "id")
        pid_col = params.get("parentIdCol", "parentId")
        mode = params.get("treeType", "nodeTreePerRow")
        max_depth = get_int(params, "maxDepth", 20)
        edges = df.select(F.col(id_col).cast("long").alias("child"),
                          F.col(pid_col).cast("long").alias("parent"))
        # transitive closure: (ancestor, descendant, depth)
        closure = edges.select(F.col("parent").alias("anc"),
                               F.col("child").alias("desc"),
                               F.lit(1).alias("depth"))
        from streamingpro_spark.operators.base import script_cache
        edges = script_cache(edges, context, "tree_edges")
        # each frontier is materialized (script-lifetime cache): the
        # emptiness probe and the final closure agg would otherwise
        # re-execute the whole k-join lineage every round — O(depth²)
        frontier = script_cache(closure, context, "tree_frontier0")
        parts = [frontier]
        for i in range(max_depth):
            nxt = script_cache(
                (frontier.alias("f")
                 .join(edges.alias("e"), F.col("f.desc") == F.col("e.parent"))
                 .select(F.col("f.anc").alias("anc"),
                         F.col("e.child").alias("desc"),
                         (F.col("f.depth") + 1).alias("depth"))),
                context, f"tree_frontier{i + 1}")
            if nxt.limit(1).count() == 0:
                break
            parts.append(nxt)
            frontier = nxt
        closure = parts[0]
        for p in parts[1:]:
            closure = closure.union(p)
        closure = closure.groupBy("anc", "desc").agg(F.min("depth").alias("depth"))
        if mode == "treePerRow":
            return (closure.groupBy("anc")
                    .agg(F.collect_set("desc").alias("children"),
                         F.max("depth").alias("height"))
                    .withColumnRenamed("anc", id_col))
        # nodeTreePerRow: per node → level (distance from root) + descendants
        roots = edges.select("parent").subtract(edges.select(F.col("child").alias("parent")))
        levels = (closure.join(roots.withColumnRenamed("parent", "anc"), "anc")
                  .groupBy("desc").agg(F.max("depth").alias("level"))
                  .withColumnRenamed("desc", id_col))
        return levels

    def explain_params(self):
        return [("idCol", "node id column", "id"),
                ("parentIdCol", "parent id column", "parentId"),
                ("treeType", "nodeTreePerRow|treePerRow", "nodeTreePerRow"),
                ("maxDepth", "cycle guard", "20")]


@register_et("SchemaCommand")
class SchemaCommand(ETAlgorithm):
    """!desc t — describe a table's schema
    (reference: external/mlsql-ets/.../SchemaCommand.scala)."""

    skip_path_prefix = True   # `path` is a table name

    def train(self, df, path, params, context=None):
        spark = df.sparkSession
        target = spark.table(path) if path else df
        rows = [(f.name, f.dataType.simpleString(), f.nullable) for f in target.schema.fields]
        return local_table(spark, rows,
                           "col_name: string, data_type: string, nullable: boolean")


@register_et("ShowCommand")
class ShowCommand(ETAlgorithm):
    """!show jobs/tables/... (reference: tech/mlsql/ets/ShowCommand.scala)."""

    def train(self, df, path, params, context=None):
        spark = df.sparkSession
        what = (path or "tables").split("/")[0]
        if what == "tables":
            rows = [(t.name, t.tableType) for t in spark.catalog.listTables()]
            return local_table(spark, rows,
                               "tableName: string, tableType: string")
        if what == "jobs":
            jobs = context.jobs if context is not None else {}
            rows = [(str(k), type(v).__name__) for k, v in jobs.items()]
            return local_table(spark, rows,
                               "jobName: string, jobType: string")
        if what == "functions":
            rows = [(f.name,) for f in spark.catalog.listFunctions()]
            return local_table(spark, rows, "function: string")
        if what == "version":
            return local_table(spark, [(spark.version,)], "sparkVersion: string")
        if what == "commands":
            # reference ShowCommand case Array("commands"): the macro table
            from streamingpro_spark.macros import MACROS
            rows = sorted((f"!{n}", tpl) for n, tpl in MACROS.items())
            return local_table(spark, rows,
                               "command: string, template: string")
        if what == "et":
            from streamingpro_spark.operators.registry import (
                explain_algorithm, list_algorithms)
            parts = (path or "").split("/")
            if len(parts) > 1 and parts[1]:
                return explain_algorithm(spark, parts[1])
            return list_algorithms(spark)
        raise ValueError(f"!show: unknown item {what!r}")


@register_et("PrintCommand")
class PrintCommand(ETAlgorithm):
    """!println (reference: tech/mlsql/ets/PrintCommand.scala)."""

    def train(self, df, path, params, context=None):
        text = params.get("input", path)
        print(text)
        return local_table(df.sparkSession, [(text,)], "content: string")


@register_et("DropTempTable")
class DropTempTable(ETAlgorithm):
    """Drop a temp view (companion of reference table mgmt commands)."""

    skip_path_prefix = True   # `path` is a view name

    def train(self, df, path, params, context=None):
        df.sparkSession.catalog.dropTempView(path)
        return None


@register_et("EmptyTableWithSchema")
class EmptyTableWithSchema(ETAlgorithm):
    """Create an empty table from a DDL/st(...) schema."""

    def train(self, df, path, params, context=None):
        from streamingpro_spark.sources.value_parser import parse_any_schema
        schema = parse_any_schema(params.get("schema", path))
        return local_table(df.sparkSession, [], schema)


@register_et("Kill")
class Kill(ETAlgorithm):
    """!kill jobName — stop a stream / cancel a job group
    (reference: tech/mlsql/job/JobManager.scala:150+)."""

    skip_path_prefix = True   # `path` is a job name

    def train(self, df, path, params, context=None):
        name = path or params.get("jobName", "")
        spark = df.sparkSession
        if context is not None and name in context.jobs:
            q = context.jobs.pop(name)
            if hasattr(q, "stop"):
                q.stop()
            return None
        for q in spark.streams.active:
            if q.name == name:
                q.stop()
        spark.sparkContext.cancelJobGroup(name)
        return None


@register_et("WaterMarkInPlace")
class WaterMarkInPlace(ETAlgorithm):
    """!withWatermark t ts "10 seconds" — re-register the view with a
    watermark (reference: SQLWaterMarkInPlace.scala:29-47)."""

    def train(self, df, path, params, context=None):
        from streamingpro_spark.streaming.watermark import apply_watermark
        col = params.get("eventTimeCol", params.get("inputCol", "timestamp"))
        delay = params.get("delayThreshold", "10 seconds")
        out = apply_watermark(df, col, delay)
        # "InPlace": the reference re-registers the SAME view name
        # (SQLWaterMarkInPlace.scala:38 createOrReplaceTempView(inputTable))
        table = params.get("__table__")
        if table:
            if context is not None:
                context.register(out, table)
            else:
                out.createOrReplaceTempView(table)
        return out


@register_et("JsonExpandExt")
class JsonExpandExt(ETAlgorithm):
    """Expand a JSON string column into typed columns
    (reference: tech/mlsql/ets/ext/SQLJsonExpandExt.scala)."""

    def train(self, df, path, params, context=None):
        col = params.get("inputCol", "value")
        samples = [r[0] for r in df.select(col).filter(F.col(col).isNotNull())
                   .limit(100).collect()]
        spark = df.sparkSession
        if not samples:
            # nothing to infer from (empty table / all-null column):
            # pass the input through instead of an opaque
            # "Unable to infer schema" AnalysisException
            return df
        schema = spark.read.json(spark.sparkContext.parallelize(samples)).schema
        out = df.withColumn("__j", F.from_json(F.col(col), schema))
        for f in schema.fields:
            out = out.withColumn(f.name, F.col(f"__j.{f.name}"))
        return out.drop("__j")


@register_et("HDFSCommand")
class HDFSCommand(ETAlgorithm):
    """!fs ls/rm/... (reference: tech/mlsql/ets/HDFSCommand.scala).
    Local-FS implementation via os; on a cluster this routes through the
    Hadoop FileSystem (py4j) — same command surface."""

    def train(self, df, path, params, context=None):
        import json
        import os
        import shutil
        args = json.loads(params.get("parameters", "[]"))
        spark = df.sparkSession
        if not args:
            raise ValueError("!fs requires arguments, e.g. !fs ls /tmp")
        cmd, *rest = args
        if cmd in ("ls", "-ls"):
            target = rest[0]
            rows = [(name, os.path.getsize(os.path.join(target, name)))
                    for name in sorted(os.listdir(target))]
            return local_table(spark, rows, "name: string, size: long")
        if cmd in ("rm", "-rm", "-rmr"):
            for t in rest:
                if t in ("-r", "-f"):
                    continue
                shutil.rmtree(t, ignore_errors=True) if os.path.isdir(t) else (
                    os.path.exists(t) and os.remove(t))
            return local_table(spark, [("ok",)], "result: string")
        if cmd in ("mkdir", "-mkdir"):
            for t in rest:
                if t != "-p":
                    os.makedirs(t, exist_ok=True)
            return local_table(spark, [("ok",)], "result: string")
        if cmd in ("cp", "-cp"):
            src, dst = rest[-2], rest[-1]
            shutil.copytree(src, dst) if os.path.isdir(src) else shutil.copy(src, dst)
            return local_table(spark, [("ok",)], "result: string")
        raise ValueError(f"!fs: unsupported command {cmd!r}")


@register_et("ProfilerCommand")
class ProfilerCommand(ETAlgorithm):
    """!profiler explain "sql" — EXPLAIN via Spark
    (reference: external/mlsql-sql-profiler-30/.../ProfilerCommand.scala:34-49)."""

    def train(self, df, path, params, context=None):
        spark = df.sparkSession
        if params.get("action", "explain") == "explain":
            sql = params["sql"]
            plan = spark.sql(sql)._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
            return local_table(spark, [(plan,)], "plan: string")
        raise ValueError("!profiler: only 'explain' supported")


@register_et("SyntaxAnalyzeExt")
class SyntaxAnalyzeExt(ETAlgorithm):
    """Extract input tables of a SQL statement without executing it
    (reference: tech/mlsql/ets/SQLSyntaxAnalyzeExt)."""

    def train(self, df, path, params, context=None):
        spark = df.sparkSession
        sql = params["sql"]
        plan = spark._jvm.org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parsePlan(sql)
        import re as _re
        tables = sorted(set(_re.findall(r"UnresolvedRelation \[([^\]]+)\]", plan.treeString())))
        return local_table(spark, [(t,) for t in tables], "tableName: string")


@register_et("AsOfJoin")
class AsOfJoin(ETAlgorithm):
    """As-of join: for each left row, the most recent right row with
    right.ts <= left.ts within the same key (no reference equivalent —
    Spark lacks a native ASOF JOIN; this is the union+window re-expression
    that scales: O(n log n) sort within key partitions, ONE shuffle on the
    key — no range cross-join blowup).

    `run errors as AsOfJoin.`` where rightTable="clicks" and
     keyCol="user_id" and tsCol="ts" and valueCols="value"`

    Plan shape: union(left, right) → window last(value, ignorenulls) over
    (key ORDER BY ts, side) → filter side=left.  Right rows at ts equal
    to the left ts count (side orders right first).
    """

    def train(self, df, path, params, context=None):
        right = df.sparkSession.table(params["rightTable"])
        key = params.get("keyCol", "user_id")
        ts = params.get("tsCol", "ts")
        value_cols = [c.strip() for c in params.get("valueCols", "value").split(",")]

        left_cols = df.columns
        l = df.select(*left_cols, F.lit(1).alias("__side"),
                      *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}")
                        for c in value_cols])
        r = right.select(*[F.col(c) if c in (key, ts) else F.lit(None).cast(
                            df.schema[c].dataType).alias(c) if c in left_cols
                           else F.lit(None).alias(c) for c in left_cols],
                         F.lit(0).alias("__side"),
                         *[F.col(c).alias(f"__r_{c}") for c in value_cols])
        u = l.unionByName(r)
        w = (Window.partitionBy(key).orderBy(F.col(ts).asc(), F.col("__side").asc())
             .rowsBetween(Window.unboundedPreceding, 0))
        for c in value_cols:
            u = u.withColumn(f"asof_{c}", F.last(f"__r_{c}", ignorenulls=True).over(w))
        return (u.filter(F.col("__side") == 1)
                 .drop("__side", *[f"__r_{c}" for c in value_cols]))

    def explain_params(self):
        return [("rightTable", "table supplying as-of values", ""),
                ("keyCol", "join key", "user_id"),
                ("tsCol", "event-time column", "ts"),
                ("valueCols", "right columns to carry (comma-separated)", "value")]


@register_et("DataConstraints")
class DataConstraints(ETAlgorithm):
    """Deequ-style data-quality constraints in ONE aggregate pass
    (training-data pipeline guardrail; no reference equivalent).

    `run t as DataConstraints.`` where rules='''{"notNull": ["doc_id"],
    "unique": ["doc_id"], "min": {"n": 0}, "max": {"n": 100}}'''`
    → (rule, column, violations, passed) rows.

    Scale: every rule compiles to an aggregate over the same scan —
    map-side partial aggregation, a single job, no per-rule passes.
    `unique` uses count_distinct (one expand); the result is a handful
    of scalars so the driver materialization is O(rules).
    """

    def train(self, df, path, params, context=None):
        import json as _json
        rules = _json.loads(params.get("rules", "{}"))
        aggs, meta = [], []
        for c in rules.get("notNull", []):
            aggs.append(F.sum(F.col(c).isNull().cast("long")))
            meta.append(("notNull", c))
        for c in rules.get("unique", []):
            aggs.append(F.count(F.col(c)) - F.count_distinct(F.col(c)))
            meta.append(("unique", c))
        for c, v in rules.get("min", {}).items():
            aggs.append(F.sum((F.col(c) < F.lit(v)).cast("long")))
            meta.append(("min", c))
        for c, v in rules.get("max", {}).items():
            aggs.append(F.sum((F.col(c) > F.lit(v)).cast("long")))
            meta.append(("max", c))
        if not aggs:
            raise ValueError("DataConstraints: rules json is empty — "
                             'expected {"notNull": [...], "unique": [...], '
                             '"min": {...}, "max": {...}}')
        row = df.agg(*aggs).first()
        out = [(rule, col, int(row[i] or 0), (row[i] or 0) == 0)
               for i, (rule, col) in enumerate(meta)]
        return local_table(
            df.sparkSession, out,
            "rule string, column string, violations long, passed boolean")

    def explain_params(self):
        return [("rules", "constraints json (notNull/unique/min/max)", "{}")]
