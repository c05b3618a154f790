"""Infra command ETs: Delta/Kafka maintenance (dependency-gated),
stream-event callbacks, driver-side Python exec (SURVEY.md §2.4).

Delta Lake and Kafka client jars are optional deps of this engine; the
commands probe for them and raise a clear install hint when absent —
the statement surface (macros `!delta`, `!kafkaTool`, `!callback`,
`!python`) is always present.
"""

from __future__ import annotations

import json
import os
from typing import TYPE_CHECKING

from pyspark.sql import functions as F

from streamingpro_spark.operators.base import ETAlgorithm, get_int, local_table
from streamingpro_spark.operators.registry import register_et

if TYPE_CHECKING:
    from pyspark.sql import DataFrame


def _has_delta(spark) -> bool:
    try:
        # py4j returns a JavaPackage (no error) for missing classes;
        # Class.forName is the reliable probe
        spark._jvm.java.lang.Class.forName("io.delta.tables.DeltaTable")
        return True
    except Exception:
        return False


@register_et("DeltaCommandWrapper")
class DeltaCommandWrapper(ETAlgorithm):
    """!delta history/info/compact/show tables
    (reference: tech/mlsql/ets/DeltaCommandWrapper.scala:26-128).
    Requires the delta-spark package on the classpath — except for
    versionedParquet lakes, which serve history/compact/vacuum
    natively."""

    def train(self, df, path, params, context=None):
        spark = df.sparkSession
        args = json.loads(params.get("parameters", "[]"))
        # versionedParquet lakes (the native time-travel fallback) serve
        # history/compact without delta-spark
        if len(args) > 1:
            from streamingpro_spark.sources import versioned as vp
            target = (context.resource_real_path(args[1])
                      if context else args[1])
            commits = vp.read_commits(target)
            if commits:
                if args[0] == "history":
                    # single source of truth for the history schema —
                    # vp.load renders it for `load versionedParquet ...
                    # where history="true"` too
                    return vp.load(context, args[1], {"history": "true"})
                if args[0] == "compact":
                    # rewrite the CURRENT snapshot as one fresh overwrite
                    # commit with n files (the OPTIMIZE equivalent)
                    n = int(args[2]) if len(args) > 2 else 1
                    snap = vp.load(context, args[1], {}).repartition(n)
                    vp.save(context, snap, args[1], "overwrite", {}, [])
                    return local_table(
                        spark, [(target, len(commits), n)],
                        "path: string, compactedCommits: int, files: int")
                if args[0] == "vacuum":
                    # Delta VACUUM semantics: reclaim orphan dirs +
                    # versions superseded by a later overwrite and
                    # older than the retention window; history keeps
                    # their records, time travel to them stops
                    retain = float(args[2]) if len(args) > 2 else 168.0
                    orphans, versions = vp.vacuum(context, args[1],
                                                  retain)
                    return local_table(
                        spark, [(target, orphans, versions)],
                        "path: string, orphansRemoved: int, "
                        "versionsRemoved: int")
        if not _has_delta(spark):
            raise NotImplementedError(
                "!delta requires Delta Lake (pip install delta-spark and "
                "spark.jars.packages=io.delta:delta-spark_2.13:<ver>); "
                "not present on this classpath — or point !delta at a "
                "versionedParquet lake for native history/compact")
        action = args[0] if args else "help"
        if action == "history":
            dt = spark._jvm.io.delta.tables.DeltaTable.forPath(spark._jsparkSession, args[1])
            from pyspark.sql import DataFrame as PDF
            return PDF(dt.history(), spark)
        if action == "compact":
            # read-coalesce-overwrite compaction (OPTIMIZE equivalent)
            target = args[1]
            n = int(args[2]) if len(args) > 2 else 1
            (spark.read.format("delta").load(target)
             .repartition(n).write.format("delta")
             .mode("overwrite").option("dataChange", "false").save(target))
            return local_table(spark, [(target, n)], "path: string, files: int")
        raise ValueError(f"!delta: unknown action {action!r}")


@register_et("KafkaCommand")
class KafkaCommand(ETAlgorithm):
    """!kafkaTool sampleData/streamOffset
    (reference: tech/mlsql/ets/KafkaCommand.scala).  Requires the
    spark-sql-kafka connector jar."""

    def train(self, df, path, params, context=None):
        spark = df.sparkSession
        args = json.loads(params.get("parameters", "[]"))
        try:
            probe = spark.read.format("kafka")
            opts = {k: v for k, v in params.items() if k.startswith("kafka.")}
            action = args[0] if args else "sampleData"
            topic = params.get("subscribe") or (args[1] if len(args) > 1 else None)
            if not topic:
                raise ValueError("!kafkaTool requires a topic (subscribe option)")
            reader = probe.option("subscribe", topic) \
                          .option("startingOffsets", params.get("startingOffsets", "earliest")) \
                          .option("endingOffsets", params.get("endingOffsets", "latest"))
            for k, v in opts.items():
                reader = reader.option(k, v)
            data = reader.load()
            if action == "sampleData":
                return data.limit(get_int(params, "sampleNum", 100)) \
                           .withColumn("value", F.col("value").cast("string")) \
                           .withColumn("key", F.col("key").cast("string"))
            return data.groupBy("topic", "partition").agg(
                F.min("offset").alias("minOffset"), F.max("offset").alias("maxOffset"))
        except Exception as e:
            if "Failed to find data source: kafka" in str(e) or "ClassNotFound" in str(e):
                raise NotImplementedError(
                    "!kafkaTool requires the spark-sql-kafka connector "
                    "(spark.jars.packages=org.apache.spark:spark-sql-kafka-0-10_2.13:<ver>)"
                ) from e
            raise


@register_et("MLSQLEventCommand")
class MLSQLEventCommand(ETAlgorithm):
    """!callback post <url> when "started,progress,terminated" —
    register HTTP stream-event callbacks
    (reference: tech/mlsql/ets/MLSQLEventCommand.scala; dispatch
    MLSQLStreamManager.scala:92-120)."""

    def train(self, df, path, params, context=None):
        spark = df.sparkSession
        url = params.get("url", "")
        events = params.get("when", "started,progress,terminated")
        if not url:
            args = json.loads(params.get("parameters", "[]"))
            # !callback post <url> when <events>
            if len(args) >= 2 and args[0] == "post":
                url = args[1]
            if len(args) >= 4 and args[2] == "when":
                events = args[3].strip('"')
        if not url:
            raise ValueError("!callback requires: post <url> when \"<events>\"")
        from streamingpro_spark.streaming.manager import get_listener, http_callback
        listener = get_listener(spark)
        listener.add_callback(events, http_callback(url))
        return local_table(spark, [(url, events)], "url: string, events: string")


@register_et("PluginCommand")
class PluginCommand(ETAlgorithm):
    """`!plugin add <module-or-path>` — runtime ET plugins
    (reference: tech/mlsql/ets/PluginCommand.scala installs jar plugins
    into the running engine; the Python-native equivalent imports a
    module / exec's a .py file whose top level calls
    `streamingpro_spark.operators.registry.register_et`).

    Output: the ET names newly registered by the plugin.
    """

    def train(self, df, path, params, context=None):
        import importlib
        spark = df.sparkSession
        action = params.get("action", "add")
        name = params.get("name") or path
        from streamingpro_spark.operators import registry as _reg
        if action not in ("add", "load"):
            raise ValueError(f"!plugin: unsupported action {action!r} "
                             "(supported: add)")
        if not name:
            raise ValueError("!plugin add <module-or-path>")
        before = set(_reg._REGISTRY)
        if name.endswith(".py") or os.sep in name:
            scope: dict = {"__name__": f"sp_plugin_{os.path.basename(name)}"}
            with open(name, encoding="utf-8") as f:
                code = f.read()
            exec(compile(code, name, "exec"), scope)  # noqa: S102
        else:
            importlib.import_module(name)
        added = sorted(set(_reg._REGISTRY) - before)
        return local_table(
            spark, [(name, ",".join(added))], "plugin: string, registered: string")


@register_et("PythonCommand")
class PythonCommand(ETAlgorithm):
    """!python — driver-side python exec over an input table
    (reference: tech/mlsql/ets/PythonCommand.scala, 405 LoC: per-session
    conda envs + executor dispatch; here: the in-process essential —
    code runs with `input_df` (pandas) bound, returns `output_df`).
    The reference's arg forms (PythonCommand.scala:171-223) are parsed:

        !python env "K=V";                 -- session env var
        !python conf "schema=st(...)";     -- session conf (recorded)
        !python '''<code>''';
        !python '''<code>''' named out;
        !python on tbl '''<code>''';
        !python on tbl '''<code>''' named out;

    start/close are accepted no-ops (no external worker processes — the
    engine IS python).  For executor-side python use PythonAlg /
    PythonScriptRun / ScriptUDF."""

    def train(self, df, path, params, context=None):
        spark = df.sparkSession
        code = params.get("code", "")
        source = params.get("input")
        named = None
        if not code and "parameters" in params:
            args = json.loads(params["parameters"])
            if args[:1] in (["start"], ["close"]):
                return local_table(spark, [(args[0], "ok")],
                                   "action: string, status: string")
            if len(args) == 2 and args[0] in ("env", "conf"):
                k, _, v = args[1].partition("=")
                if context is not None:
                    context.env[f"__python_{args[0]}_{k}__"] = v
                return local_table(
                    spark, [(args[0], k, v)], "kind: string, k: string, v: string")
            if args and args[0] == "on":
                if len(args) < 3:
                    raise ValueError(
                        "!python on needs: on <table> '''<code>''' "
                        "[named <out>]")
                source = args[1]
                rest = args[2:]
                if len(rest) >= 3 and rest[-2] == "named":
                    code, named = " ".join(rest[:-2]), rest[-1]
                else:
                    code = " ".join(rest)
            elif len(args) >= 3 and args[-2] == "named":
                code, named = " ".join(args[:-2]), args[-1]
            else:
                # bare code (possibly tokenized by the macro arg split —
                # the pre-round-4 behavior joined everything into code)
                code = " ".join(args)
        target = spark.table(source) if source else df
        limit = get_int(params, "maxRows", 10000)
        scope: dict = {"input_df": target.limit(limit).toPandas()}
        try:
            exec(code, scope)  # noqa: S102 — explicit user-script execution ET
        except SyntaxError as e:
            raise ValueError(f"!python: syntax error in user code at line "
                             f"{e.lineno}: {e.msg}") from None
        out = scope.get("output_df")
        result = (local_table(spark, [("ok",)], "status: string")
                  if out is None else spark.createDataFrame(out))
        if named:
            if context is not None:
                context.register(result, named)
            else:
                result.createOrReplaceTempView(named)
        return result


@register_et("ModelCommand")
class ModelCommand(ETAlgorithm):
    """!model history <path> — list the saved versions of a model
    directory (reference: tech/mlsql/ets/ModelCommand.scala:37-70, which
    scans `_model_N` subdirs written by keepVersion and unions their
    meta; our ML wrappers store the version in the path itself)."""

    def train(self, df, path, params, context=None):
        action = params.get("action", "history")
        if action != "history":
            raise ValueError(f"!model: unknown action {action!r}; "
                             "supported: history")
        from streamingpro_spark.operators.ml_algs import _MLWrapper
        versions = _MLWrapper._list_versions(path)
        spark = df.sparkSession
        if versions:
            rows = [(os.path.join(path, f"_model_{v}"), v)
                    for v in sorted(versions, reverse=True)]
        elif os.path.exists(path):
            rows = [(path, 0)]
        else:
            raise ValueError(f"!model: {path} is not a model path")
        return local_table(spark, rows, "modelPath: string, version: int")

    def explain_params(self):
        return [("action", "history", "history")]


@register_et("EngineResource")
class EngineResource(ETAlgorithm):
    """Inspect / resize the engine's executor resources (reference
    tech/mlsql/ets/EngineResource.scala:28-135: no action → a
    ResourceStatus row; add/remove/set cpus → ExecutorAllocationClient
    requestTotalExecutors/killExecutors; local master rejects resize).

    Difference from the reference: the STATUS query works in local mode
    too (the reference throws even for status; reporting is harmless and
    useful), sourced from SparkContext.getExecutorMemoryStatus.  Resize
    actions mirror the reference exactly — local mode raises, cluster
    mode calls the allocation client through the JVM gateway, capped at
    20 cpus per call (EngineResource.scala:60-64)."""

    def train(self, df, path, params, context=None):
        spark = df.sparkSession
        sc = spark.sparkContext
        master = sc.getConf().get("spark.master", "")
        is_local = master == "local" or master.startswith("local[")
        action = params.get("action", "")
        if not action:
            jsc = sc._jsc.sc()
            mem = jsc.getExecutorMemoryStatus()
            # the status map includes the DRIVER entry (which is why the
            # resize path below subtracts one) — don't report it as an
            # executor
            executors = max(mem.size() - 1, 0)
            cores_per = int(sc.getConf().get("spark.executor.cores", "0")) \
                or sc.defaultParallelism
            rows = [(master, int(executors), int(sc.defaultParallelism),
                     int(cores_per))]
            return local_table(
                spark, rows, "master: string, executors: int, totalCores: int, "
                "executorCores: int")
        if is_local:
            raise ValueError("Local mode not support this action")
        cpus_s = params.get("cpus", "0").lower()
        cpus = int(cpus_s[:-1]) if cpus_s.endswith("c") else int(cpus_s)
        if cpus > 20:
            raise ValueError("Too many cpus added at one time. "
                             "Please add them with multi times.")
        exec_cores = int(sc.getConf().get("spark.executor.cores", "1"))
        delta = max(cpus // exec_cores, 1)
        jsc = sc._jsc.sc()
        current = jsc.getExecutorMemoryStatus().size() - 1  # minus driver
        jvm = sc._jvm
        # scala companion objects via py4j: Map$.MODULE$ / PythonUtils
        empty_map = getattr(getattr(jvm, "scala.collection.immutable.Map$"),
                            "MODULE$").empty()
        py_utils = jvm.org.apache.spark.api.python.PythonUtils
        if action in ("add", "+"):
            jsc.requestTotalExecutors(current + delta, 0, empty_map)
        elif action in ("remove", "-"):
            # kill the newest N executors (the reference's
            # SparkDynamicControlExecutors.killExecutors(n) equivalent).
            # getExecutorIds returns a scala Seq — index it via py4j
            # (scala Seq is not java-Iterable, so no direct iteration)
            seq = jsc.getExecutorIds()
            ids = [str(seq.apply(i)) for i in range(seq.size())]
            # numeric sort: executor ids are decimal strings, and a
            # lexicographic sort would rank "9" above "12"
            ids.sort(key=lambda x: (int(x) if x.isdigit() else 0, x))
            jsc.killExecutors(py_utils.toSeq(ids[-delta:]))
        elif action == "set":
            jsc.requestTotalExecutors(delta, 0, empty_map)
        else:
            raise ValueError(f"unknown action {action!r}; use add/remove/set")
        return local_table(
            spark, [(action, cpus)], "action: string, cpus: int")

    def explain_params(self):
        return [("action", "(empty=status) | add | remove | set", ""),
                ("cpus", "cpu count, e.g. 8 or 8c", "0"),
                ("timeout", "allocation wait ms (reference parity)",
                 "60000")]


@register_et("SchedulerCommand")
class SchedulerCommand(ETAlgorithm):
    """`!scheduler` — cron jobs over MLSQL script files
    (reference tech/mlsql/ets/SchedulerCommand.scala:28-140 +
    tech/mlsql/scheduler/client/*; see scheduler.py module docstring for
    the deliberate differences: script FILES instead of console script
    ids, JSON store under the engine home instead of DBStore).

    Forms (parameters JSON array, exactly the reference's macro shape):
      !scheduler "<path>" with "0 3 * * *";   -- add/update timer job
      !scheduler "<path>" with "";            -- remove job + edges
      !scheduler "<dep>" depends on "<p1,p2>";-- run <dep> after parents
      !scheduler list;                        -- job table
      !scheduler run "<path>";                -- execute now (+dependents)
      !scheduler start; / !scheduler stop;    -- background minute loop
    """

    #: process-global registry keyed by store path: the REST server
    #: builds a fresh context PER REQUEST, so a context-cached service
    #: would make a started scheduler unreachable from any later
    #: request (stop/list would silently talk to a new empty instance)
    _services: dict = {}

    def _service(self, spark, context):
        from streamingpro_spark.scheduler import SchedulerService
        store = None
        if context is not None and context.home:
            store = os.path.join(context.home, context.owner,
                                 "__mlsql__", "scheduler.json")
        svc = SchedulerCommand._services.get(store)
        if svc is None:
            svc = SchedulerService(store_path=store)
            svc.load()
            SchedulerCommand._services[store] = svc
        # (re)bind execution to the CURRENT context so auth/home follow
        # the engine that issued the command (sub-engine policy —
        # Engine.for_child inherits table_auth)
        from streamingpro_spark.engine import Engine

        def run(script: str):
            return Engine.for_child(spark, context).execute(script)

        svc.execute = run
        return svc

    def train(self, df, path, params, context=None):
        spark = df.sparkSession
        args = json.loads(params.get("parameters", "[]"))
        svc = self._service(spark, context)

        def job_table():
            rows = [(p, c, svc.last_run.get(p, ""), svc.last_error.get(p, ""),
                     ",".join(svc.dependencies.get(p, [])))
                    for p, c in sorted(svc.timer_jobs.items())]
            return local_table(
                spark, rows, "script: string, cron: string, lastRun: string, "
                "lastError: string, triggers: string")

        if not args or args == ["list"]:
            return job_table()
        if args[0] == "start":
            started = svc.start()
            return local_table(
                spark, [("started" if started else "already-running",)],
                "scheduler: string")
        if args[0] == "stop":
            stopped = svc.stop()
            return local_table(
                spark, [("stopped" if stopped else "not-running",)],
                "scheduler: string")
        def _resolve(p):
            # per-owner sandbox: scheduler scripts resolve through the
            # same path-prefix/containment rule as load/save/include
            return context.resource_real_path(p) if context else p

        if args[0] == "run" and len(args) == 2:
            svc.run_job(_resolve(args[1]))
            return job_table()
        if len(args) == 3 and args[1] == "with":
            svc.add_timer(_resolve(args[0]), args[2])
            return job_table()
        if len(args) == 4 and args[1] == "depends" and args[2] == "on":
            parents = [_resolve(p.strip())
                       for p in args[3].split(",") if p.strip()]
            svc.add_dependency(_resolve(args[0]), parents)
            return job_table()
        raise ValueError(
            f"!scheduler: unrecognized form {args!r}; use "
            '<path> with <cron> | <path> depends on <p1,p2> | list | '
            'run <path> | start | stop')

    def explain_params(self):
        return [("parameters", "JSON arg array from the !scheduler macro",
                 "[]")]


@register_et("NothingET")
class NothingET(ETAlgorithm):
    """No-op ET (reference tech/mlsql/ets/NothingET — placeholder target
    used by internal command rewrites): returns an empty 1-column table."""

    def train(self, df, path, params, context=None):
        return local_table(df.sparkSession, [], "value: string")


# the standalone compaction command is the same gated delta surface
# (reference tech/mlsql/ets/DeltaCompactionCommand)
from streamingpro_spark.operators.registry import alias_et  # noqa: E402

alias_et("DeltaCompactionCommand", "DeltaCommandWrapper")


@register_et("LakeDiff")
class LakeDiff(ETAlgorithm):
    """Diff the input table against a versionedParquet snapshot: which
    keys were ADDED, REMOVED, or CHANGED — the change-data-feed
    analogue for this engine's native lake (delta-lake's CDF answers
    the same question per commit; the reference's MLSQLDelta.scala
    range read, reproduced here as `load versionedParquet ... where
    startingVersion/endingVersion`, stamps commits but cannot express
    overwrite semantics or content changes; file:line provenance —
    streamingpro MLSQLDelta.scala:22-100).

    Two shapes, one operator:

    - pre-commit review: ``run candidate as LakeDiff.`/lake`` `` —
      what WOULD change if candidate were overwrite-committed now.
    - version-to-version: load version N as a table, diff it against
      ``versionAsOf="M"`` — the historical change feed between any
      two snapshots, overwrites included.

    Output: one row per differing key — (key, change
    'added'|'removed'|'changed', old_digest, new_digest).  `added` =
    key in input, not in snapshot; `removed` = the reverse; `changed`
    = both sides, digest differs.  The digest is md5 over
    ``digestCols`` (default: every shared non-key column, sorted by
    name so both sides agree), null-safe via per-column coalesce to a
    sentinel.  Duplicate keys on either side are a rendered error —
    a keyed diff over a non-keyed table silently multiplies rows.
    NULL keys have no identity to diff on and are EXCLUDED from both
    sides (the engine's NULL-key convention: visible in the inputs,
    never silently matched).

    100 TB: digests are computed map-side inside each scan (the scans
    are COLUMN-PRUNED to key + digestCols — parquet never reads the
    rest); the diff itself is ONE full-outer shuffle join keyed by the
    key column; the duplicate guard rides the same aggregation shape
    (groupBy key) rather than a second scan.  No window, no collect,
    no Python.
    """

    def train(self, df, path, params, context=None):
        from streamingpro_spark.sources import versioned as vp
        key = params.get("keyCol", "doc_id")
        if key not in df.columns:
            raise ValueError(
                f"LakeDiff: keyCol {key!r} not in input columns "
                f"{df.columns}")
        opts = {}
        if params.get("versionAsOf", ""):
            opts["versionAsOf"] = params["versionAsOf"]
        if params.get("mergeSchema", ""):
            opts["mergeSchema"] = params["mergeSchema"]
        old = vp.load(context, path, opts)
        if key not in old.columns:
            raise ValueError(
                f"LakeDiff: keyCol {key!r} not in lake columns "
                f"{old.columns} at {path!r}")
        spec = params.get("digestCols", "")
        if spec:
            cols = [c.strip() for c in spec.split(",") if c.strip()]
            missing = [c for c in cols
                       if c not in df.columns or c not in old.columns]
            if missing:
                raise ValueError(
                    f"LakeDiff: digestCols {missing} not present on "
                    f"both sides (input has {df.columns}, lake has "
                    f"{old.columns})")
        else:
            cols = sorted((set(df.columns) & set(old.columns))
                          - {key})
            if not cols:
                raise ValueError(
                    f"LakeDiff: no shared non-key columns to digest "
                    f"(input {df.columns} vs lake {old.columns}) — "
                    f"pass digestCols explicitly")

        def digested(side, tag):
            # null-safe, type-erased digest: every column cast to
            # string and coalesced to a sentinel no real value shares
            dig = F.md5(F.concat_ws(
                "\x1f", *[F.coalesce(F.col(c).cast("string"),
                                     F.lit("\x00null")) for c in cols]))
            return (side.where(F.col(key).isNotNull())
                    .select(F.col(key).alias("__k"), dig.alias(tag))
                    .groupBy("__k")
                    .agg(F.count(F.lit(1)).alias(f"{tag}_n"),
                         F.max(tag).alias(tag)))

        new_d = digested(df, "new_digest")
        old_d = digested(old, "old_digest")
        joined = new_d.join(old_d, "__k", "full_outer")
        # duplicate-key guard: a diff over a non-keyed side is
        # meaningless; the counts ride the digest aggregation, so the
        # guard costs no extra scan.  Rendered via assert-on-read —
        # and folded INTO the change expression (first coalesce arm),
        # because a standalone guard column is prunable: an identical-
        # content duplicate yields change=NULL, and a filter on change
        # alone would drop the row before a separate guard ever
        # evaluated (caught while driving this operator).
        dup_msg = f"LakeDiff: keyCol {key!r} is not unique on "
        guard = (F.when(
            F.coalesce(F.col("new_digest_n"), F.lit(0)) > 1,
            F.raise_error(F.concat(
                F.lit(dup_msg + "the INPUT side (key "),
                F.col("__k").cast("string"), F.lit(")"))))
            .when(
            F.coalesce(F.col("old_digest_n"), F.lit(0)) > 1,
            F.raise_error(F.concat(
                F.lit(dup_msg + "the LAKE side (key "),
                F.col("__k").cast("string"), F.lit(")")))))
        change = F.coalesce(
            guard.cast("string"),
            F.when(F.col("old_digest").isNull(), F.lit("added"))
             .when(F.col("new_digest").isNull(), F.lit("removed"))
             .when(F.col("new_digest") != F.col("old_digest"),
                   F.lit("changed")))
        return (joined
                .withColumn("change", change)
                .where(F.col("change").isNotNull())
                .select(F.col("__k").alias(key), "change",
                        "old_digest", "new_digest"))

    def explain_params(self):
        return [("keyCol", "row identity for the diff (must be unique "
                 "on both sides)", "doc_id"),
                ("digestCols", "comma list of content columns to "
                 "digest; default = all shared non-key columns "
                 "(sorted)", ""),
                ("versionAsOf", "lake snapshot to diff against "
                 "(default latest)", ""),
                ("mergeSchema", "honor schema evolution across lake "
                 "commits", "")]
