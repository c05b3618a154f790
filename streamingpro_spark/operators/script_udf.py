"""ScriptUDF: register user source code as a UDF/UDAF at runtime.

Reference: streaming/dsl/mmlib/algs/ScriptUDF.scala:33-101 compiles
Scala/Python/Java source held in a table or variable into a UDF
(`register ScriptUDF.`tbl` as fn options lang=... and dataType=...`).
Natively in Python this is just `exec` + `spark.udf.register` —
dramatically simpler (SURVEY.md §2.6).  lang="java" compiles UDF source
with the JDK's javac at runtime (the reference uses janino) and
registers it via registerJavaFunction; lang="scala" stays a documented
drop (no Scala compiler here).  UDAF → pandas_udf GROUPED_AGG.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from streamingpro_spark.operators.base import ETAlgorithm, local_table
from streamingpro_spark.operators.registry import register_et
from streamingpro_spark.sources.value_parser import parse_any_schema


def _resolve_return_type(type_str: str):
    from pyspark.sql import types as T
    s = type_str.strip()
    if not s:
        return T.StringType()
    if s.startswith("st("):
        return parse_any_schema(s)
    try:
        return T._parse_datatype_string(s)
    except Exception:
        return T.StringType()


def _register_java_udf(spark, code: str, name: str, params: dict):
    """Compile Java UDF source at runtime and register it.

    The reference compiles Java UDF source with janino
    (streaming/udf/JavaRuntimeCompileUDF.scala); here the JDK's own
    javac does it: compile → jar → SQL `ADD JAR` (which reaches the
    session's mutable jar classloader AND executor classpaths — plain
    sc.addJar leaves the driver-side registry unable to load the class)
    → `registerJavaFunction`.  The source must define a public class
    implementing org.apache.spark.sql.api.java.UDF1..UDF22; dataType
    gives the SQL return type."""
    import os
    import re
    import shutil
    import subprocess
    import tempfile
    import zipfile

    m = re.search(r"\bpublic\s+class\s+(\w+)", code)
    if not m:
        raise ValueError("ScriptUDF lang=\"java\": source must define a "
                         "`public class <Name> implements UDFn<...>`")
    cls = m.group(1)
    pkg = re.search(r"^\s*package\s+([\w.]+)\s*;", code, re.MULTILINE)
    fq_cls = f"{pkg.group(1)}.{cls}" if pkg else cls
    javac = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "javac")
    if not os.path.exists(javac):
        javac = shutil.which("javac") or ""
    if not javac:
        raise NotImplementedError(
            "ScriptUDF lang=\"java\" needs a JDK (javac not found); "
            "use lang=\"python\"")
    import pyspark
    spark_jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    work = tempfile.mkdtemp(prefix="spk_judf_")
    src_path = os.path.join(work, f"{cls}.java")
    cls_dir = os.path.join(work, "classes")
    os.makedirs(cls_dir)
    with open(src_path, "w") as fh:
        fh.write(code)
    rc = subprocess.run(
        [javac, "-classpath", f"{spark_jars}/*", "-d", cls_dir, src_path],
        capture_output=True, text=True)
    if rc.returncode != 0:
        raise ValueError(f"ScriptUDF lang=\"java\": compilation failed:\n"
                         f"{rc.stderr.strip()}")
    jar_path = os.path.join(work, f"{cls}.jar")
    with zipfile.ZipFile(jar_path, "w") as z:
        for root, _, files in os.walk(cls_dir):
            for f in files:
                full = os.path.join(root, f)
                z.write(full, os.path.relpath(full, cls_dir))
    spark.sql(f"ADD JAR '{jar_path}'")
    if params.get("udfType") == "udaf":
        # class must extend o.a.s.sql.expressions.UserDefinedAggregateFunction
        # (reference: streaming/udf/JavaRuntimeCompileUDAF.scala)
        spark.udf.registerJavaUDAF(name, fq_cls)
        return name
    rtype = _resolve_return_type(params.get("dataType", ""))
    spark.udf.registerJavaFunction(name, fq_cls, rtype)
    return name


@register_et("ScriptUDF")
class ScriptUDF(ETAlgorithm):
    """`register ScriptUDF.`scriptTable` as myFn options dataType="long"`.

    The source table/variable holds Python source defining a function
    named `methodName` (default: apply).  udfType="udaf" uses a
    pandas GROUPED_AGG aggregate over a single column.
    """

    skip_path_prefix = True   # `path` is a table/variable name (reference skipPathPrefix)

    def load(self, spark, path, params, context=None):
        # source: a 1-row table (name, content) from `load script.`var``
        # or a variable in env
        code = None
        if context is not None and path in context.env:
            code = context.env[path]
        else:
            try:
                rows = spark.table(path).collect()
                if rows and "content" in rows[0].__fields__:
                    code = rows[0]["content"]
                elif rows:
                    code = rows[0][0]
            except Exception:
                pass
        if code is None:
            raise ValueError(f"ScriptUDF: no source found at {path!r}")
        return {"code": code}

    def predict(self, spark, model, name, params):
        code = model["code"]
        lang = params.get("lang", "python")
        if lang == "java":
            return _register_java_udf(spark, code, name, params)
        if lang == "scala":
            raise NotImplementedError(
                "ScriptUDF lang=\"scala\" is not supported: no Scala "
                "compiler ships with this engine (documented drop — "
                "MIGRATION.md).  Use lang=\"python\" or lang=\"java\".")
        method = params.get("methodName", "apply")
        ns: dict = {}
        try:
            exec(code, ns)  # noqa: S102 — deliberate: ScriptUDF is user code
        except SyntaxError as e:
            raise ValueError(
                f"ScriptUDF: python syntax error in user code at line "
                f"{e.lineno}: {e.msg}") from None
        if method not in ns:
            raise ValueError(f"ScriptUDF: function {method!r} not defined")
        fn = ns[method]
        rtype = _resolve_return_type(params.get("dataType", ""))
        if params.get("udfType") == "udaf":
            import pandas as pd  # noqa: F401
            from pyspark.sql.functions import PandasUDFType
            # explicit GROUPED_AGG: without type hints pandas_udf
            # silently defaults to SCALAR and group-by queries fail with
            # an opaque "not an aggregate function"
            pudf = F.pandas_udf(fn, rtype, PandasUDFType.GROUPED_AGG)
            spark.udf.register(name, pudf)
            return pudf
        return spark.udf.register(name, fn, rtype)

    def train(self, df, path, params, context=None):
        # `run ... as ScriptUDF` is not meaningful; registering happens via
        # the register statement.  Return input unchanged.
        return df

    def explain_params(self):
        return [("dataType", "return type (DDL or st(...) DSL)", "string"),
                ("methodName", "function name inside the source", "apply"),
                ("udfType", "udf|udaf", "udf"),
                ("lang", "python | java (runtime javac; scala dropped)",
                 "python")]


@register_et("PythonScriptRun")
class PythonScriptRun(ETAlgorithm):
    """Run user Python over a table via Arrow batches — the PySpark-native
    answer to the reference's Ray/PythonAlg external-process path
    (tech/mlsql/ets/Ray.scala:52-330 ships tables over Arrow sockets; we
    are already in Python, so `mapInPandas` does this in-process).

    `run t as PythonScriptRun.`` where code='''def transform(pdf): ...'''
    and schema="st(field(a,long))"`  — `transform(pdf)` maps each Arrow
    batch (pandas DataFrame) to an output DataFrame.
    """

    def train(self, df, path, params, context=None):
        code = params.get("code", "")
        schema = parse_any_schema(params["schema"]) if params.get("schema") else df.schema
        ns: dict = {}
        try:
            exec(code, ns)  # noqa: S102
        except SyntaxError as e:
            raise ValueError(
                f"python syntax error in user code at line "
                f"{e.lineno}: {e.msg}") from None
        fn = ns.get("transform")
        if fn is None:
            raise ValueError("PythonScriptRun: define `def transform(pdf)` in code")

        def run(batches):
            for pdf in batches:
                out = fn(pdf)
                if out is not None and len(out):
                    yield out

        return df.mapInPandas(run, schema)

    def explain_params(self):
        return [("code", "python source defining transform(pdf)", ""),
                ("schema", "output schema (DDL or st(...))", "input schema")]


@register_et("ScalaScriptUDF")
class ScalaScriptUDF(ScriptUDF):
    """Reference alias where lang defaults to scala
    (TrainAdaptor.scala maps ScalaScriptUDF/ScriptUDF to one class).
    No Scala compiler ships here, so the default renders the documented
    drop; pass lang="python"/"java" explicitly to use those paths."""

    def predict(self, spark, model, name, params):
        params = {"lang": "scala", **params}
        return super().predict(spark, model, name, params)


@register_et("PythonAlg")
class PythonAlg(ETAlgorithm):
    """Native stand-in for the reference's external-python training ETs
    (SQLPythonAlg.scala:48-177; aliases PythonAlgBP / ExternalPythonAlg):
    the reference ships the table to a subprocess over Arrow sockets with
    a conda env; this engine IS Python, so `train` runs the user's
    train(pdf, model_path) driver-side over a bounded pandas slice and
    `predict` runs the user's predict(pdf, model_path) DISTRIBUTED via
    mapInPandas (model artifacts must be on storage all executors see).

        train t as PythonAlg.`/model` where code='''
        def train(pdf, model_path): ...save artifacts...
        ''' and maxRows="100000";
        predict t as PythonAlg.`/model` where code='''
        def predict(pdf, model_path): ...return pdf with predictions...
        ''' and schema="st(field(x,double))";
    """

    model_type = "algorithm"

    @staticmethod
    def _fn(code: str, name: str):
        ns: dict = {}
        try:
            exec(code, ns)  # noqa: S102 — deliberate user-code ET
        except SyntaxError as e:
            raise ValueError(f"PythonAlg: syntax error in user code at "
                             f"line {e.lineno}: {e.msg}") from None
        if name not in ns:
            raise ValueError(f"PythonAlg: define `def {name}(pdf, "
                             f"model_path)` in code")
        return ns[name]

    def train(self, df, path, params, context=None):
        import os
        fn = self._fn(params.get("code", ""), "train")
        max_rows = int(params.get("maxRows", "100000"))
        pdf = df.limit(max_rows).toPandas()
        if path:
            os.makedirs(path, exist_ok=True)
        fn(pdf, path)
        return local_table(
            df.sparkSession, [("PythonAlg", path, len(pdf))],
            "modelType: string, path: string, trainRows: long")

    def batch_predict(self, df, path, params):
        fn = self._fn(params.get("code", ""), "predict")
        schema = parse_any_schema(params["schema"]) \
            if params.get("schema") else df.schema

        def run(batches):
            for pdf in batches:
                out = fn(pdf, path)
                if out is not None and len(out):
                    yield out

        return df.mapInPandas(run, schema)

    def explain_params(self):
        return [("code", "python source: train(pdf, model_path) / "
                 "predict(pdf, model_path)", ""),
                ("maxRows", "train: cap on the driver-side pandas slice",
                 "100000"),
                ("schema", "predict: output schema (DDL or st(...))",
                 "input schema")]


# reference registry name variants (TrainAdaptor.scala:124-168)
from streamingpro_spark.operators.registry import alias_et  # noqa: E402

alias_et("PythonAlgBP", "PythonAlg")
alias_et("ExternalPythonAlg", "PythonAlg")
