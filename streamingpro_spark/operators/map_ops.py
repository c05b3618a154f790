"""Dictionary/lookup ETs + script/infra utilities (SURVEY.md §2.4).

Broadcast-dictionary lookups: the reference collects small dict tables to
the driver and broadcasts them into scalar UDFs (SQLMap.scala:39-50,
SQLMapValues.scala:68-119, SQLTableToMap.scala:39-50,
SQLDicOrTableToArray.scala:30-70).  Same design here — these dictionaries
are *small by contract* (vocabulary/code tables), so a driver collect +
broadcast is the correct 100 TB-scale plan: the big table never shuffles,
the lookup rides map-side.  For joins against LARGE dict tables use a
plain SQL join instead (Catalyst broadcasts or SMJs it as appropriate).
"""

from __future__ import annotations

import json
import os
from typing import TYPE_CHECKING

from pyspark.sql import functions as F

from streamingpro_spark.operators.base import (ETAlgorithm, get_bool, get_int,
                                               local_table)
from streamingpro_spark.operators.registry import register_et

if TYPE_CHECKING:
    from pyspark.sql import DataFrame


def _meta_path(path: str) -> str:
    return os.path.join(path, "meta")


def _data_path(path: str) -> str:
    return os.path.join(path, "data")


@register_et("Map")
class MapET(ETAlgorithm):
    """Single-row table → string→string dict → lookup UDF
    (reference: streaming/dsl/mmlib/algs/SQLMap.scala:32-51)."""

    model_type = "algorithm"
    skip_path_prefix = True   # `path` is a table name

    def train(self, df, path, params, context=None):
        return local_table(df.sparkSession, [], "dummy: string")

    def load(self, spark, path, params, context=None):
        row = spark.table(path).limit(1).collect()[0].asDict()
        return {str(k): "" if v is None else str(v) for k, v in row.items()}

    def predict(self, spark, model, name, params):
        d = dict(model)
        # keys were stringified at load — stringify the lookup arg too,
        # or int key columns would miss every row
        return spark.udf.register(
            name, lambda k: d.get(str(k)) if k is not None else None,
            "string")


@register_et("MapValues")
class MapValues(ETAlgorithm):
    """Dict table (inputCol → outputCol, with a mapMissingTo default row)
    saved at `path`; `register` serves a broadcast lookup UDF
    (reference: SQLMapValues.scala:30-119).  Also registers `{name}_array`
    mapping array<string> → array<value> like the reference."""

    model_type = "algorithm"

    def train(self, df, path, params, context=None):
        input_col = params.get("inputCol")
        output_col = params.get("outputCol")
        missing = params.get("mapMissingTo")
        if not (input_col and output_col and missing is not None):
            raise ValueError("MapValues requires inputCol, outputCol, mapMissingTo")
        n = df.filter(F.col(input_col) == missing).count()
        if n != 1:
            raise ValueError(
                f"can't find (or found multiple) mapMissingTo={missing!r} in dict table")
        df.select(input_col, output_col).write.mode("overwrite") \
          .parquet(_data_path(path))
        meta = {"inputCol": input_col, "outputCol": output_col, "mapMissingTo": missing}
        spark = df.sparkSession
        local_table(spark, [meta], "inputCol: string, outputCol: string, "
                    "mapMissingTo: string") \
            .write.mode("overwrite").parquet(_meta_path(path))
        return local_table(spark, [], "dummy: string")

    def load(self, spark, path, params, context=None):
        meta = spark.read.parquet(_meta_path(path)).collect()[0].asDict()
        dict_df = spark.read.parquet(_data_path(path))
        return dict_df, meta

    def predict(self, spark, model, name, params):
        dict_df, meta = model
        in_c, out_c, missing = meta["inputCol"], meta["outputCol"], meta["mapMissingTo"]
        out_type = dict_df.schema[out_c].dataType.simpleString()
        rows = dict_df.collect()
        # str-keyed: train() accepts non-string inputCol dict tables
        # (Spark coerces the mapMissingTo comparison), so predict must
        # match them — raw keys made mapping[missing] a KeyError and
        # lookups miss for int columns
        mapping = {str(r[in_c]): r[out_c] for r in rows}
        default = mapping[str(missing)]
        bc = spark.sparkContext.broadcast((mapping, default))

        def lookup(k):
            m, d = bc.value
            return m.get(str(k), d) if k is not None else d

        spark.udf.register(f"{name}_array",
                           lambda ks: [lookup(k) for k in (ks or [])],
                           f"array<{out_type}>")
        return spark.udf.register(name, lookup, out_type)


@register_et("TableToMap")
class TableToMap(ETAlgorithm):
    """(key,value) table → broadcast map → lookup UDF
    (reference: SQLTableToMap.scala:28-50)."""

    model_type = "algorithm"

    def train(self, df, path, params, context=None):
        key_f = params.get("keyField", "key")
        val_f = params.get("valueField", "value")
        df.select(F.col(key_f).alias("key"), F.col(val_f).alias("value")) \
          .write.mode("overwrite").parquet(path)
        return local_table(df.sparkSession, [], "dummy: string")

    def load(self, spark, path, params, context=None):
        return {str(r["key"]): str(r["value"])
                for r in spark.read.parquet(path).collect()}

    def predict(self, spark, model, name, params):
        bc = spark.sparkContext.broadcast(dict(model))
        return spark.udf.register(
            name, lambda k: bc.value.get(str(k)) if k is not None else None,
            "string")


@register_et("DicOrTableToArray")
class DicOrTableToArray(ETAlgorithm):
    """Named word-lists from text files (`dic.paths`/`dic.names`) or
    single-column tables (`table.paths`/`table.names`) → name→array UDF
    (reference: SQLDicOrTableToArray.scala:30-80)."""

    model_type = "algorithm"

    def _build(self, spark, params):
        out: dict[str, list[str]] = {}
        if "dic.paths" in params:
            names = params["dic.names"].split(",")
            for nm, p in zip(names, params["dic.paths"].split(",")):
                with open(p, encoding="utf-8") as f:
                    out[nm] = [line.rstrip("\n") for line in f if line.strip()]
        if "table.paths" in params:
            names = params["table.names"].split(",")
            for nm, t in zip(names, params["table.paths"].split(",")):
                out[nm] = [str(r[0]) for r in spark.table(t).collect()]
        return out

    def train(self, df, path, params, context=None):
        spark = df.sparkSession
        data = self._build(spark, params)
        rows = [(k, v) for k, v in data.items()]
        model = local_table(spark, rows,
                            "name: string, tokens: array<string>")
        model.write.mode("overwrite").parquet(path)
        return model

    def load(self, spark, path, params, context=None):
        return {r["name"]: list(r["tokens"])
                for r in spark.read.parquet(path).collect()}

    def predict(self, spark, model, name, params):
        bc = spark.sparkContext.broadcast(dict(model))
        return spark.udf.register(name, lambda nm: bc.value.get(nm, []),
                                  "array<string>")


# ---------------------------------------------------------------------------
# infra / script utilities
# ---------------------------------------------------------------------------

@register_et("RepartitionExt")
class RepartitionExt(ETAlgorithm):
    """Legacy alias of TableRepartition (reference: SQLRepartitionExt.scala)."""

    def train(self, df, path, params, context=None):
        from streamingpro_spark.operators.table_ops import TableRepartition
        return TableRepartition().train(df, path, params, context)


@register_et("ShowTableExt")
class ShowTableExt(ETAlgorithm):
    """Extended table listing (reference: SQLShowTableExt.scala)."""

    def train(self, df, path, params, context=None):
        spark = df.sparkSession
        rows = [(t.name, t.database or "", t.tableType, bool(t.isTemporary))
                for t in spark.catalog.listTables()]
        return local_table(
            spark, rows,
            "tableName: string, database: string, tableType: string, isTemporary: boolean")


@register_et("ShowFunctionsExt")
class ShowFunctionsExt(ETAlgorithm):
    """Function catalog listing, optional name filter
    (reference: SQLShowFunctionsExt.scala)."""

    def train(self, df, path, params, context=None):
        spark = df.sparkSession
        pat = params.get("pattern", "").lower()
        rows = [(f.name, f.className or "", bool(f.isTemporary))
                for f in spark.catalog.listFunctions()
                if pat in f.name.lower()]
        return local_table(
            spark, rows,
            "function: string, className: string, isTemporary: boolean")


@register_et("RunScript")
class RunScript(ETAlgorithm):
    """Execute an MLSQL script string (reference: tech/mlsql/ets/RunScript.scala).
    The script text comes from the `code` param or from the single string
    cell of the input table.  Temp views are session-global, so results
    are visible to the calling script."""

    def train(self, df, path, params, context=None):
        code = params.get("code")
        if not code:
            code = df.limit(1).collect()[0][0]
        from streamingpro_spark.engine import Engine
        return Engine.for_child(df.sparkSession, context).execute(code)


@register_et("IteratorCommand")
class IteratorCommand(ETAlgorithm):
    """Iterate a table driver-side in bounded batches, running a sub-script
    per batch with the batch registered as `__batch__`
    (reference: tech/mlsql/ets/IteratorCommand.scala:30-100 — there the
    partitions are streamed to a socket server; the per-batch sub-script
    is the Spark-first equivalent; use mapInPandas for executor-side
    per-batch logic instead when the table is large)."""

    def train(self, df, path, params, context=None):
        spark = df.sparkSession
        source = params.get("input")
        target = spark.table(source) if source else df
        script = params.get("script", "")
        batch_size = get_int(params, "batchSize", 1000)
        from streamingpro_spark.engine import Engine
        n_batches = 0
        batch: list = []
        schema = target.schema

        def flush(rows):
            nonlocal n_batches
            if not rows:
                return
            local_table(spark, rows, schema).createOrReplaceTempView("__batch__")
            if script:
                Engine.for_child(spark, context).execute(script)
            n_batches += 1

        for row in target.toLocalIterator():
            batch.append(row)
            if len(batch) >= batch_size:
                flush(batch)
                batch = []
        flush(batch)
        return local_table(spark, [(n_batches,)], "n_batches: bigint")


@register_et("SendMessage")
class SendMessage(ETAlgorithm):
    """Email notification (reference: SQLSendMessage.scala ~100 LoC).
    `dryRun=true` (default — no SMTP server in test envs) returns the
    composed message as a table instead of sending."""

    def train(self, df, path, params, context=None):
        spark = df.sparkSession
        to = params.get("to", "")
        subject = params.get("subject", "")
        content = params.get("content", "")
        frm = params.get("from", "streamingpro@localhost")
        if get_bool(params, "dryRun", True):
            return local_table(
                spark, [(to, frm, subject, content, "dry-run")],
                "to: string, from: string, subject: string, content: string, status: string")
        import smtplib
        from email.mime.text import MIMEText
        msg = MIMEText(content)
        msg["Subject"], msg["From"], msg["To"] = subject, frm, to
        host = params.get("smtpHost", "localhost")
        port = get_int(params, "smtpPort", 25)
        with smtplib.SMTP(host, port) as s:
            s.sendmail(frm, to.split(","), msg.as_string())
        return local_table(
            spark, [(to, frm, subject, content, "sent")],
            "to: string, from: string, subject: string, content: string, status: string")


def _jdbc_connect(spark, url: str, opts: dict):
    """Driver-side DriverManager connection with explicit driver
    registration.  Drivers shipped via --jars / spark.jars live on Spark's
    mutable classloader, which DriverManager's ServiceLoader cannot see —
    getConnection fails with 'No suitable driver' unless the class is
    registered first (the reference calls Class.forName: SQLJDBC.scala:52,
    SQLJDBCUpdatExt.scala:161, JDBCUtils.scala:40).  Spark's own
    DriverRegistry wraps such drivers so DriverManager accepts them."""
    jvm = spark.sparkContext._jvm
    driver = opts.get("driver")
    if driver:
        jvm.org.apache.spark.sql.execution.datasources.jdbc.DriverRegistry \
            .register(driver)
    props = jvm.java.util.Properties()
    for k in ("user", "password"):
        if k in opts:
            props.setProperty(k, opts[k])
    return jvm.java.sql.DriverManager.getConnection(url, props)


def _bind_value(jvm, ps, idx: int, value) -> None:
    """Typed PreparedStatement binding.  py4j auto-converts only
    primitives/str/bytes; datetime/date/Decimal must go through java.sql
    types and None through setNull, mirroring the reference's typed-setter
    switch (SQLJDBCUpdatExt.scala:116-132)."""
    import datetime
    import decimal
    if value is None:
        # Types.NULL is rejected by Derby ("data type '0' not supported");
        # ask the statement for the parameter's real SQL type when it can
        # tell us (most drivers), fall back to untyped NULL otherwise.
        try:
            sql_type = ps.getParameterMetaData().getParameterType(idx)
        except Exception:
            sql_type = jvm.java.sql.Types.NULL
        ps.setNull(idx, sql_type)
    elif isinstance(value, datetime.datetime):  # before date: subclass
        ps.setTimestamp(idx, jvm.java.sql.Timestamp.valueOf(
            value.strftime("%Y-%m-%d %H:%M:%S.%f")))
    elif isinstance(value, datetime.date):
        ps.setDate(idx, jvm.java.sql.Date.valueOf(value.isoformat()))
    elif isinstance(value, decimal.Decimal):
        ps.setBigDecimal(idx, jvm.java.math.BigDecimal(str(value)))
    else:
        ps.setObject(idx, value)


@register_et("JDBC")
class JDBCExt(ETAlgorithm):
    """Run DDL/DML statements on a remote database via the JVM's
    java.sql.DriverManager (reference: SQLJDBC.scala:46-170 —
    `driver-statement-0..N` executed in order; `driver-statement-query`
    returns a table).  Connection options merge from `connect ... as db`
    when `path` names a connection."""

    skip_path_prefix = True   # `path` names a connection, not a file

    def train(self, df, path, params, context=None):
        spark = df.sparkSession
        opts = dict(params)
        if context is not None and path:
            meta = context.connect_meta.get(("jdbc", path))
            if meta:
                opts = {**meta, **opts}
        url = opts.get("url")
        if not url:
            raise ValueError("JDBC ET requires a `url` option (or connect meta)")
        conn = _jdbc_connect(spark, url, opts)
        try:
            stmts = sorted((k for k in opts if k.startswith("driver-statement-")
                            and k != "driver-statement-query"),
                           key=lambda k: int(k.rsplit("-", 1)[1]))
            for k in stmts:
                st = conn.createStatement()
                st.execute(opts[k])
                st.close()
            if "driver-statement-query" in opts:
                return spark.read.format("jdbc") \
                    .option("url", url) \
                    .option("query", opts["driver-statement-query"]) \
                    .options(**{k: v for k, v in opts.items()
                                if k in ("user", "password", "driver")}).load()
        finally:
            conn.close()
        return local_table(spark, [("ok",)], "status: string")


@register_et("JDBCUpdatExt")
class JDBCUpdatExt(ETAlgorithm):
    """UPDATE rows of a JDBC table from the input DataFrame, keyed by
    `keyCol` (reference SQLJDBCUpdatExt.scala:35-160: per-row
    ``UPDATE t SET nonkey=? WHERE key=?`` from rdd.foreachPartition).

    Two strategies (Python executors cannot reach java.sql, so the
    reference's executor-side PreparedStatement loop is not expressible
    in PySpark — the scalable equivalent is better anyway):

    - ``strategy="staged"`` (default): executor-parallel
      ``df.write.jdbc`` into a temp staging table (Spark's native JDBC
      sink — each partition opens its own DB connection), then ONE
      set-based correlated UPDATE on the driver, then DROP the staging
      table.  Driver work is O(1) in row count → the 100 TB path.
      Duplicate keys in the input are dropped first (the reference's
      row-at-a-time version applies them in arbitrary partition order
      anyway).  Generated SQL double-quotes staging-side identifiers to
      match Spark's quoted CREATE TABLE (ANSI; MySQL needs ANSI_QUOTES).
    - ``strategy="driver"``: the reference's batch loop on the driver —
      typed setters (timestamp/date/decimal/null, matching
      SQLJDBCUpdatExt.scala:116-132), one transaction with rollback on
      failure (ibid:102,136-144), hard ``maxRows`` collect cap."""

    skip_path_prefix = True   # `path` is db.table, not a file

    def train(self, df, path, params, context=None):
        key_param = params.get("keyCol")
        if not key_param:
            raise ValueError('JDBCUpdatExt requires keyCol="k1[,k2]"')
        keys = [k.strip() for k in key_param.split(",") if k.strip()]
        opts = dict(params)
        table = path
        if "." in path:
            db, table = path.split(".", 1)
            meta = context.connect_meta.get(("jdbc", db)) if context else None
            if meta:
                opts = {**meta, **opts}
        url = opts.get("url")
        if not url:
            raise ValueError("JDBCUpdatExt requires a `url` option "
                             "(or connect meta)")
        missing = [k for k in keys if k not in df.columns]
        if missing:
            raise ValueError(f"keyCol {missing} not in input columns "
                             f"{df.columns}")
        set_cols = [c for c in df.columns if c not in keys]
        if not set_cols:
            raise ValueError("input has only key columns; nothing to SET")
        strategy = opts.get("strategy", "staged")
        if strategy == "staged":
            return self._staged(df, table, keys, set_cols, url, opts)
        if strategy == "driver":
            return self._driver_batch(df, table, keys, set_cols, url, opts)
        raise ValueError(f"unknown strategy {strategy!r}; "
                         'use "staged" or "driver"')

    # -- staged: distributed write + one set-based UPDATE ----------------
    def _staged(self, df, table, keys, set_cols, url, opts):
        import uuid
        spark = df.sparkSession
        stage = f"{table}__stage_{uuid.uuid4().hex[:8]}"
        conn_opts = {k: opts[k] for k in ("user", "password", "driver")
                     if k in opts}
        try:
            (df.dropDuplicates(keys).write.format("jdbc")
             .option("url", url).option("dbtable", stage)
             .options(**conn_opts).mode("errorifexists").save())
        except Exception as e:
            first_line = (str(e).splitlines() or [repr(e)])[0]
            raise ValueError(
                f"JDBCUpdatExt staged strategy could not create the "
                f"staging table {stage} (CREATE TABLE privilege needed): "
                f"{first_line} — use strategy=\"driver\" for "
                f"update-only database accounts") from e
        conn = _jdbc_connect(spark, url, opts)
        try:
            # Spark's JDBC CREATE TABLE quotes column names, so staging
            # columns are case-exact; target-side names stay as given.
            def sq(c):
                return f'"{c}"'
            on = " AND ".join(f"s.{sq(k)} = {table}.{k}" for k in keys)
            sets = ", ".join(
                f"{c} = (SELECT s.{sq(c)} FROM {stage} s WHERE {on})"
                for c in set_cols)
            sql = (f"UPDATE {table} SET {sets} WHERE EXISTS "
                   f"(SELECT 1 FROM {stage} s WHERE {on})")
            try:
                st = conn.createStatement()
                try:
                    updated = st.executeUpdate(sql)
                finally:
                    st.close()
            finally:
                # a failed UPDATE must not leak the staging table on the
                # remote database; a failed DROP (e.g. dead connection)
                # must not mask the UPDATE's own error
                try:
                    st = conn.createStatement()
                    try:
                        st.executeUpdate(f"DROP TABLE {stage}")
                    finally:
                        st.close()
                except Exception:
                    pass
        finally:
            conn.close()
        return local_table(spark, [(updated,)], "updated: long")

    # -- driver: reference-style typed batch in one transaction ----------
    def _driver_batch(self, df, table, keys, set_cols, url, opts):
        from streamingpro_spark.operators.similarity import bounded_collect
        max_rows = int(opts.get("maxRows", "100000"))
        rows = bounded_collect(
            df, max_rows, "JDBCUpdatExt input", "maxRows",
            hint='use strategy="staged" (distributed) for bulk updates')
        spark = df.sparkSession
        jvm = spark.sparkContext._jvm
        conn = _jdbc_connect(spark, url, opts)
        try:
            conn.setAutoCommit(False)
            sql = (f"UPDATE {table} SET "
                   + ", ".join(f"{c} = ?" for c in set_cols)
                   + " WHERE " + " AND ".join(f"{k} = ?" for k in keys))
            ps = conn.prepareStatement(sql)
            try:
                pending = 0
                for r in rows:
                    i = 1
                    for c in set_cols:
                        _bind_value(jvm, ps, i, r[c])
                        i += 1
                    for k in keys:
                        _bind_value(jvm, ps, i, r[k])
                        i += 1
                    ps.addBatch()
                    pending += 1
                    if pending == 500:
                        ps.executeBatch()
                        pending = 0
                if pending:
                    ps.executeBatch()
                conn.commit()
            except Exception:
                conn.rollback()
                raise
            finally:
                ps.close()
        finally:
            conn.close()
        return local_table(spark, [(len(rows),)], "updated: long")

    def explain_params(self):
        return [("keyCol", "comma-separated key columns (WHERE)", ""),
                ("url", "jdbc url (or via connect meta in path)", ""),
                ("strategy", "staged (distributed) | driver (batch loop)",
                 "staged"),
                ("maxRows", "driver strategy: cap on input collect",
                 "100000")]


@register_et("SaveBinaryAsFile")
class SaveBinaryAsFile(ETAlgorithm):
    """Write a binary column's rows out as files named by a path column
    (reference: external/mlsql-ets/SaveBinaryAsFile.scala).  Executor-side
    foreachPartition write — no driver collect."""

    def train(self, df, path, params, context=None):
        content_col = params.get("contentCol", "content")
        name_col = params.get("fileNameCol", "file")
        out_dir = path

        def write_part(rows):
            os.makedirs(out_dir, exist_ok=True)
            for r in rows:
                fname = os.path.basename(str(r[name_col]))
                with open(os.path.join(out_dir, fname), "wb") as f:
                    f.write(bytes(r[content_col]))

        df.select(name_col, content_col).foreachPartition(write_part)
        return local_table(df.sparkSession, [(out_dir,)], "path: string")


@register_et("DownloadExt")
class DownloadExt(ETAlgorithm):
    """Fetch a URL (http/https/file) to a local/DFS path — driver-side,
    the download is one object, not a dataset (reference:
    external/mlsql-ets/SQLDownloadExt.scala pulls remote archives into
    the engine's staging area).

    `run command as DownloadExt.`` where from="file:///x" and to="/dir/y"`
    Output: (from, to, bytes).
    """

    def train(self, df, path, params, context=None):
        import urllib.request
        src = params.get("from") or params.get("url")
        dst = params.get("to") or path
        if not src or not dst:
            raise ValueError("DownloadExt needs from=\"url\" and to=\"path\"")
        os.makedirs(os.path.dirname(dst) or ".", exist_ok=True)
        with urllib.request.urlopen(src, timeout=30) as r:  # noqa: S310
            data = r.read()
        with open(dst, "wb") as f:
            f.write(data)
        return local_table(
            df.sparkSession, [(src, dst, len(data))],
            "from: string, to: string, bytes: long")


@register_et("UploadFileToServerExt")
class UploadFileToServerExt(ETAlgorithm):
    """Push a local file to an MLSQL server's /upload_file endpoint
    (reference: external/mlsql-ets/SQLUploadFileToServerExt.scala).

    `run command as UploadFileToServerExt.`` where path="/x" and
     url="http://host:port/upload_file" [and owner="admin"]`
    Output: (path, url, status).
    """

    def train(self, df, path, params, context=None):
        import base64
        import json as _json
        import urllib.request
        local = params.get("path") or path
        url = params.get("url")
        owner = params.get("owner", "admin")
        if not local or not url:
            raise ValueError("UploadFileToServerExt needs path= and url=")
        with open(local, "rb") as f:
            payload = base64.b64encode(f.read()).decode()
        req = urllib.request.Request(
            url, data=_json.dumps({
                "owner": owner,
                "fileName": os.path.basename(local),
                "content": payload}).encode(),
            headers={"Content-Type": "application/json"})
        with urllib.request.urlopen(req, timeout=30) as r:  # noqa: S310
            status = r.status
        return local_table(
            df.sparkSession, [(local, url, int(status))],
            "path: string, url: string, status: int")


# reference registers both names for table listing (ETRegister.scala
# ShowTablesExt / MLMapping ShowTableExt)
from streamingpro_spark.operators.registry import alias_et  # noqa: E402

alias_et("ShowTablesExt", "ShowTableExt")
