"""The timed action must run the query that the registered function defines.

    python3 -m pytest perfbench/test_timed_plans.py -q

For every workload query, the optimized plan of the ``noop`` write that the
benchmark times must keep every operator of the query's own optimized plan.
``count()`` would not: it lets the optimizer prune unused columns and the
operators that only compute them.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from loop import FIXTURES, release  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# operators the optimizer adds, merges or drops around any root
_PLUMBING = {"Project", "SubqueryAlias"}


def operators(tree: str) -> Counter:
    """Operator names of a logical plan tree string, ``Project`` and alias
    nodes excluded."""
    names = Counter()
    for line in tree.splitlines():
        m = re.match(r"^[\s:|+-]*([A-Z][A-Za-z0-9]*)", line)
        if m and m.group(1) not in _PLUMBING:
            names[m.group(1)] += 1
    return names


def last_execution_optimized_plan(spark) -> str:
    """The optimized logical plan of the most recent SQL execution, from
    Spark's status store (plan text recorded in extended explain mode)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    last = max((execs.apply(i) for i in range(execs.size())),
               key=lambda e: e.executionId())
    text = last.physicalPlanDescription()
    section = text.split("== Optimized Logical Plan ==", 1)[1]
    return section.split("== Physical Plan ==", 1)[0]


def missing_from_noop(spark, df) -> Counter:
    own = operators(df._jdf.queryExecution().optimizedPlan().toString())
    df.write.format("noop").mode("overwrite").save()
    return own - operators(last_execution_optimized_plan(spark))


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    base = tmp_path_factory.mktemp("perfbench")
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("SPARK_DRIVER_MEMORY", "2g")
        mp.setenv("SPARK_LOCAL_DIRS", str(base))
        mp.setenv("SPARK_GRAFT_WAREHOUSE", str(base / "warehouse"))
        mp.setenv("PYTHONPATH", ROOT)
        mp.setattr(tempfile, "tempdir", str(base))
        from big_data_project_spark.session import get_spark

        s = get_spark(app_name="perfbench-plans", master="local[2]",
                      shuffle_partitions=4)
        s.conf.set("spark.sql.ui.explainMode", "extended")
        yield s
        s.stop()


@pytest.mark.parametrize("name", sorted(
    {q for wl in WORKLOADS.values() for q in wl["queries"]}))
def test_noop_write_keeps_every_operator(spark, name):
    import __spark_entry__

    try:
        df = __spark_entry__.queries()[name](spark, FIXTURES)
        assert not missing_from_noop(spark, df)
    finally:
        release(spark, set())


def test_count_would_time_a_different_plan(spark):
    import __spark_entry__

    df = __spark_entry__.queries()["w3_moving_average"](spark, FIXTURES)
    own = operators(df._jdf.queryExecution().optimizedPlan().toString())
    counted = df.groupBy().count()
    assert own["Window"] > 0
    assert (own - operators(counted._jdf.queryExecution()
                            .optimizedPlan().toString()))["Window"] > 0
