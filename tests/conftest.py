import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


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
