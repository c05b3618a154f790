import ast
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "streamingpro_spark")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession
    s = (SparkSession.builder
         .master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
         .appName("streamingpro_spark_tests")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.driver.memory", "8g")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture()
def engine(spark):
    from streamingpro_spark import Engine
    return Engine(spark)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


_PYTHON_EXEC_NODES = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                      "PythonMapInArrow", "FlatMapGroupsInPandas")


def assert_no_python(df):
    """Fail when running `df` would start a Python worker: a Python eval
    node in its physical plan, or a leaf scanning a PythonRDD (what
    `spark.createDataFrame(<python rows>)` plans) in its analyzed plan."""
    import re
    qe = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution \
        .ExplainMode.fromString("formatted")
    plan = qe.explainString(mode)
    found = [n for n in _PYTHON_EXEC_NODES if re.search(rf"\b{n}\b", plan)]
    assert not found, f"Python eval node(s) {found} in plan:\n{plan}"
    stack = [qe.analyzed()]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "LogicalRDD":
            lineage = node.rdd().toDebugString()
            assert "PythonRDD" not in lineage, \
                f"LogicalRDD over a PythonRDD:\n{lineage}"
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))


def assert_used_only_in(name, allow, why, skip=()):
    """Fail when `name` (attribute, bare name or import) appears in the
    package outside the `allow` scopes, each a (file, dotted enclosing
    def/class) pair, or when an allowed scope no longer uses it.  Files
    in `skip` are not scanned."""
    found = set()
    for root, _, files in os.walk(PKG):
        for fname in files:
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            if not fname.endswith(".py") or rel in skip:
                continue
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)

            def visit(node, scope):
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                    scope = scope + (node.name,)
                if ((isinstance(node, ast.Attribute) and node.attr == name)
                        or (isinstance(node, ast.Name) and node.id == name)
                        or (isinstance(node, ast.alias)
                            and node.name == name)):
                    found.add((rel, ".".join(scope), node.lineno))
                for child in ast.iter_child_nodes(node):
                    visit(child, scope)

            visit(tree, ())
    stray = sorted(f"{rel}:{line} ({scope})" for rel, scope, line in found
                   if (rel, scope) not in allow)
    assert not stray, f"{why}: {stray}"
    stale = set(allow) - {(rel, scope) for rel, scope, _ in found}
    assert not stale, f"allowlist entries with no use left: {stale}"
