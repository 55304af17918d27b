"""Differential oracle tests: every registered query with oracle SQL must
match DuckDB on sf0.001 (fast) — the driver runs the same check at sf0.01.

Run the heavier tier locally with:
    SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 python -m pytest tests/test_oracle_parity.py
"""

from __future__ import annotations

import pytest

from big_data_project_spark import io, registry
from big_data_project_spark.session import snapshot_rdd_ids
from tests.conftest import SF_DIR
from tests.oracle_harness import compare, duckdb_connect

registry.load()
ORACLES = registry.all_oracles()
QUERIES = registry.all_queries()


@pytest.fixture(scope="module")
def con():
    c = duckdb_connect(SF_DIR)
    yield c
    c.close()


def _residue(spark) -> tuple[set[int], set[str]]:
    """Persisted-RDD ids and temp-view names after the next entry point
    has run — what a query leaves behind in the session."""
    QUERIES["p1_project_alias"](spark, SF_DIR)
    views = {r.viewName for r in spark.sql("SHOW VIEWS").collect() if r.isTemporary}
    return snapshot_rdd_ids(spark), views


def _settled(spark) -> tuple[set[int], set[str]]:
    """`_residue` once the fixture views are registered and what earlier
    tests' entry points left behind is released."""
    io.load_all(spark, SF_DIR)
    return _residue(spark)


def _assert_no_residue(name: str, spark, before) -> None:
    rdds, views = _residue(spark)
    # Subset, not equality, for the RDDs: Spark's ContextCleaner may
    # unpersist an RDD an earlier test persisted and no longer references
    # at any moment, which is not the query's doing.
    assert rdds <= before[0], f"{name} left RDDs behind: {rdds - before[0]}"
    assert views == before[1], f"{name} left temp views behind: {views ^ before[1]}"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(name, spark, con):
    before = _settled(spark)
    res = compare(name, QUERIES[name](spark, SF_DIR), con, ORACLES[name])
    assert res.ok, f"{name}: {res.detail}"
    _assert_no_residue(name, spark, before)


def test_all_queries_run(spark):
    # rows-only queries (no oracle) must at least run and return a schema
    for name, fn in QUERIES.items():
        if name in ORACLES:
            continue
        before = _settled(spark)
        df = fn(spark, SF_DIR)
        assert df.columns, f"{name} returned no columns"
        df.limit(5).collect()
        _assert_no_residue(name, spark, before)

