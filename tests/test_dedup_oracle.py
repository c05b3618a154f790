"""DuckDB hash-match gate for the near-duplicate and training-layout
families at the Tier-1 fixture scale: each query from
`__spark_entry__.queries()` must return exactly the rows its
`oracle_sql()` query computes in DuckDB, compared with the same
normalization as `tools/check_correctness.py`."""

import importlib.util
import os

import pytest

NEAR_DUP_QUERIES = ["minhash_dedup", "near_dedup", "near_dedup_incr",
                    "soft_dedup", "dup_clusters", "embedding_dedup",
                    "image_dedup_pairs", "image_phash_dedup"]
LAYOUT_QUERIES = ["sequence_pack", "token_budget_sample",
                  "deterministic_shard", "deterministic_shard_incr",
                  "deterministic_shard_epoch", "layout_audit",
                  "layout_manifest"]


def _normalize():
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalize


@pytest.fixture(scope="module")
def duck(sf_dir):
    import duckdb
    import __spark_entry__ as entry
    con = duckdb.connect()
    for t in entry.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{sf_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", NEAR_DUP_QUERIES + LAYOUT_QUERIES)
def test_near_dup_query_matches_duckdb_oracle(spark, sf_dir, duck, name):
    import __spark_entry__ as entry
    normalize = _normalize()
    got = normalize(entry.queries()[name](spark, sf_dir).toPandas())
    want = normalize(duck.execute(entry.oracle_sql()[name]).fetchdf())
    assert list(got.columns) == list(want.columns)
    assert len(want) > 0
    assert len(got) == len(want)
    assert got.equals(want), (got.compare(want).head(5)
                              if got.shape == want.shape else None)
