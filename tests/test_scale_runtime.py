"""Runtime scale-technique contracts: prove the session's adaptive /
runtime-filter machinery actually engages, by lowering the engage
thresholds to test scale and inspecting the (executed) plan. These are
the mechanisms that keep the SAME declarative plans viable at 100 TB
(SURVEY §4.2): skew-join splitting replaces manual salting when AQE can
see the skew, and Bloom runtime filters cut the fact-table scan before
the join even runs.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import functions as F

from big_data_project_spark.io import load_table
from big_data_project_spark.session import release, snapshot_rdd_ids

SF = "/root/testdata/sf0.01"


@contextmanager
def _confs(spark, **kv):
    old = {k: spark.conf.get(k, None) for k in kv}
    for k, v in kv.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bloom_runtime_filter_injected(spark):
    """A selective dim-side filter must inject a Bloom filter on the fact
    side: the fact scan drops non-matching rows BEFORE the shuffle. At
    100 TB this is the difference between shuffling the whole fact table
    and shuffling the ~matching slice. (Threshold lowered because the
    local fixture is far under the 10 GB default application-side size.)"""
    with _confs(
        spark,
        **{
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
            # force a shuffle join so the runtime filter is worth injecting
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    ):
        o = load_table(spark, SF, "orders").filter(F.col("o_orderstatus") == "P")
        li = load_table(spark, SF, "lineitem")
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderstatus").count()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan or "bloom_filter" in plan.lower(), plan


def test_aqe_splits_skewed_join_partitions(spark, tmp_path):
    """Manufacture a 90 %-one-key skew, lower AQE's skew thresholds to
    fixture scale, and assert the executed plan marked the sort-merge
    join as skew-handled. This is the runtime replacement for the manual
    salting in scale_salted_join — same problem, zero query rewrite."""
    n = 200_000
    skewed = spark.range(n).select(
        F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id") % 1000).alias("k"),
        (F.col("id") * 2).alias("v"),
    )
    dim = spark.range(1000).select(F.col("id").alias("k"), F.lit("x").alias("tag"))
    with _confs(
        spark,
        **{
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
        },
    ):
        j = skewed.join(dim, "k").select(F.sum("v").alias("s"))
        j.collect()  # AQE decisions only exist in the EXECUTED plan
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan


def test_sql_ddl_ctas_insert_roundtrip(spark, sf_dir):
    """The warehouse DDL surface a SQL-first user drives: CTAS from a
    query, INSERT INTO appending, and reading the managed table back —
    all through spark.sql against the configured warehouse dir."""
    from big_data_project_spark.io import load_all

    load_all(spark, sf_dir)
    spark.sql("DROP TABLE IF EXISTS t_region_copy")
    spark.sql(
        "CREATE TABLE t_region_copy USING parquet AS "
        "SELECT r_regionkey, r_name FROM region WHERE r_regionkey < 3"
    )
    spark.sql("INSERT INTO t_region_copy SELECT r_regionkey, r_name FROM region WHERE r_regionkey >= 3")
    got = {(r.r_regionkey, r.r_name) for r in spark.sql("SELECT * FROM t_region_copy").collect()}
    want = {(r.r_regionkey, r.r_name) for r in spark.sql("SELECT r_regionkey, r_name FROM region").collect()}
    assert got == want
    # metadata surface: the catalog must list it and DESCRIBE must work
    assert any(t.name == "t_region_copy" for t in spark.catalog.listTables())
    cols = {r.col_name for r in spark.sql("DESCRIBE TABLE t_region_copy").collect()}
    assert {"r_regionkey", "r_name"} <= cols
    spark.sql("DROP TABLE t_region_copy")


def test_deep_pagerank_checkpoint_cadence(spark, sf_dir):
    """x51's in-code promise (graph.py): past ~10 iterations the lazy
    rank chain must switch to a localCheckpoint-every-5-generations
    cadence.  Prove the cadence at 12 iterations on the small fixture:

    - mass conservation: with symmetric edges there is no dangling
      mass, so Σ ranks ≈ 1 after any number of iterations;
    - bounded lineage: the final frame's analyzed plan contains only
      the joins since the LAST checkpoint (≤ cadence window), not all
      12 generations;
    - checkpoint neutrality: every generation quantizes to 10 decimals,
      so the checkpointed run must return EXACTLY the lazy chain's rows.
    """
    from big_data_project_spark.pipeline.graph import pagerank_ranks_deep

    try:
        deep = pagerank_ranks_deep(spark, sf_dir, iters=12, checkpoint_every=5)
        rows = deep.collect()
        total = sum(r["r"] for r in rows)
        assert abs(total - 1.0) < 1e-4, f"rank mass drifted: {total}"

        # lineage bounded by the cadence window: each live generation
        # contributes exactly one ranks⨝edges join ON node_id (our own
        # stable column name), so the analyzed plan of 12 iters with
        # checkpoints at 5 and 10 carries only the 2 post-checkpoint
        # generations — the lazy chain has 12.  The regex tolerates
        # attribute renumbering and whitespace changes across Spark
        # versions; raw Join-node counts don't work here because the
        # cached edge frame's logical lineage (with its own joins) is
        # repeated under every generation in the ANALYZED plan.
        import re

        def n_gen_joins(df):
            plan = df._jdf.queryExecution().analyzed().toString()
            return len(re.findall(r"=\s*node_id#\d+", plan))

        deep_plan_len = len(deep._jdf.queryExecution().analyzed().toString())
        assert n_gen_joins(deep) == 2, "lineage not truncated"

        lazy = pagerank_ranks_deep(spark, sf_dir, iters=12, checkpoint_every=None)
        assert n_gen_joins(lazy) == 12
        # structural backstop independent of any attribute name: the
        # checkpointed plan must be a small fraction of the lazy chain's
        lazy_plan_len = len(lazy._jdf.queryExecution().analyzed().toString())
        assert deep_plan_len * 4 < lazy_plan_len, (deep_plan_len, lazy_plan_len)
        lazy_rows = lazy.collect()
        assert sorted(map(tuple, rows)) == sorted(map(tuple, lazy_rows))
    finally:
        spark.catalog.clearCache()


def test_bench_rows_all_resolve_to_registered_queries():
    """bench.py filters its row lists with `if n in qs` — a renamed query
    would silently VANISH from the bench output and quietly break the
    round-over-round comparison.  Pin that every HEADLINE and
    DEMONSTRATORS name resolves to a registry query or an _extra_rows
    builder, and that the headline set still matches the 19 rows the r01
    BASELINE recorded."""
    import bench
    from big_data_project_spark.registry import all_queries

    known = set(all_queries()) | set(bench._extra_rows())
    missing = [n for n in bench.HEADLINE + bench.DEMONSTRATORS if n not in known]
    assert not missing, f"bench rows silently dropped: {missing}"
    assert len(bench.HEADLINE) == 19  # the BASELINE-comparable set
    assert set(bench._MIN_OF_3) <= set(bench.HEADLINE) | set(bench.DEMONSTRATORS)


def test_bench_frees_checkpoint_rdds_between_rows(spark, sf_dir):
    """The delta release between bench rows (`session.release`, which
    bench.py imports as ``free_new_rdds``): clearCache does not release
    localCheckpoint RDD blocks, so the release frees them itself.  Pin
    the mechanism: after an x61 run (which checkpoints the d²-cell gsym
    frame) the release must free every RDD the row pinned — and leave
    anything persisted beforehand alone.

    Uses the RAW x61 function, not the registered entry point: the entry
    point itself releases the previous entry point's RDD blocks (pinned
    in test_registry), which would release `pre` before the
    leave-older-RDDs-alone property could be observed."""
    from big_data_project_spark.pipeline.similarity import x61_pca_project

    # The pre-existing entry must be localCheckpoint-backed, NOT .cache():
    # the release calls clearCache(), which drops DataFrame caches — a
    # cached `pre` would be gone before the RDD delta ever ran and the
    # leave-older-RDDs-alone property would be vacuously true.
    # clearCache does not release checkpoint RDD blocks, so this survives
    # to make the assertion real.
    base = snapshot_rdd_ids(spark)
    pre = spark.range(10).localCheckpoint(eager=True)
    pre_ids = snapshot_rdd_ids(spark) - base
    assert pre_ids, "pre-existing localCheckpoint should be persisted"
    try:
        before = snapshot_rdd_ids(spark)
        x61_pca_project(spark, sf_dir).count()
        spark.catalog.clearCache()  # the bench's between-run reset...
        leaked = snapshot_rdd_ids(spark) - before
        assert leaked, "x61 should leave localCheckpoint RDDs behind"
        freed = release(spark, before)
        assert freed == len(leaked)
        after = snapshot_rdd_ids(spark)
        assert after <= before
        # the pre-existing checkpoint RDD is still persisted, not freed
        assert pre_ids <= after, "release freed a pre-existing RDD"
        assert pre.count() == 10
    finally:
        # free everything this test created (pre included) so the
        # session stays clean
        release(spark, base)


def test_bpe_train_releases_previous_generations(spark, sf_dir):
    """x58's deep-iteration claim needs bounded cache: each merge step
    persists a new state generation and must UNPERSIST the previous one
    after materializing.  Pin it by counting persistent RDDs after the
    run: 3 one-row top frames (kept for the output union) + the final
    state generation — NOT one state per step."""
    from big_data_project_spark.registry import all_queries

    spark.catalog.clearCache()
    # DELTA, not absolute: clearCache drops DataFrame caches but not
    # localCheckpoint RDDs other tests in the session may have left
    before = len(snapshot_rdd_ids(spark))
    try:
        rows = all_queries()["x58_bpe_train"](spark, sf_dir).collect()
        assert len(rows) == 3
        after = len(snapshot_rdd_ids(spark))
        assert after - before <= 4, f"cached generations leaked: {after - before}"
    finally:
        spark.catalog.clearCache()


def test_lpa_deep_checkpoint_cadence_value_equivalent(spark, sf_dir):
    """lpa_labels_deep (prepped x65 family): the checkpointed 6-round run
    must return EXACTLY the all-lazy chain's labels — the recurrence is
    all-integer, so chain topology cannot change values (stronger than
    the PageRank analog, which needs per-step quantization for this) —
    and each checkpoint must truncate the plan: the checkpointed chain's
    analyzed plan is a small fraction of the lazy one's."""
    from big_data_project_spark.pipeline.graph import lpa_labels_deep

    try:
        deep = lpa_labels_deep(spark, sf_dir, rounds=6, checkpoint_every=3)
        lazy = lpa_labels_deep(spark, sf_dir, rounds=6, checkpoint_every=None)
        deep_plan = len(deep._jdf.queryExecution().analyzed().toString())
        lazy_plan = len(lazy._jdf.queryExecution().analyzed().toString())
        assert deep_plan * 2 < lazy_plan, (deep_plan, lazy_plan)
        d = sorted(map(tuple, deep.collect()))
        l = sorted(map(tuple, lazy.collect()))
        assert d == l and len(d) > 0
    finally:
        spark.catalog.clearCache()


def test_bfs_deep_checkpoint_cadence_value_equivalent(spark):
    """bfs_layers (prepped x68 family): on a 64-node path graph seeded at
    node 0, the checkpointed 8-round run must return EXACTLY the
    persist-only run's layers (all-integer set recurrence — cadence
    cannot change values) and reach exactly nodes 0..8 at dist = node
    id; each checkpoint must truncate the plan (the checkpointed
    chain's analyzed plan is a small fraction of the persist-only
    one's).  The lazy arm stays at 8 rounds on purpose: the
    un-checkpointed plan tree grows ~×6 per round (a first draft of
    this test at 12 rounds overflowed the JVM's 2^31-char plan-string
    cap and spent 8 minutes in analysis — the very pathology the
    cadence exists to prevent, now recorded in the bfs_layers
    docstring)."""
    from pyspark.sql import functions as F

    from big_data_project_spark.pipeline.graph import bfs_layers

    try:
        chain = spark.range(63).select(
            F.col("id").alias("u"), (F.col("id") + 1).alias("v")
        )
        sym = chain.unionByName(
            chain.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).persist()
        seeds = spark.range(1).select(F.col("id").alias("node")).persist()
        deep = bfs_layers(sym, seeds, rounds=8, checkpoint_every=3)
        lazy = bfs_layers(sym, seeds, rounds=8, checkpoint_every=None)
        deep_plan = len(deep._jdf.queryExecution().analyzed().toString())
        lazy_plan = len(lazy._jdf.queryExecution().analyzed().toString())
        assert deep_plan * 2 < lazy_plan, (deep_plan, lazy_plan)
        d = sorted(map(tuple, deep.collect()))
        l = sorted(map(tuple, lazy.collect()))
        assert d == l == [(n, n) for n in range(9)]
    finally:
        spark.catalog.clearCache()


def test_kcore_deep_checkpoint_cadence_value_equivalent(spark):
    """kcore_peel (prepped x70 family): on a 40-node path graph at k=2,
    the checkpointed 8-sweep run must return EXACTLY the persist-only
    run's labels (all-integer set recurrence — cadence cannot change
    values): endpoints peel outside-in two nodes per sweep from each
    end, survivors peel_round 0; and each checkpoint must truncate the
    plan.  The lazy arm stays at 8 sweeps: each sweep's plan holds the
    previous sweep's twice (semi-join and removed anti-join), so the
    un-checkpointed plan tree grows with every sweep."""
    from pyspark.sql import functions as F

    from big_data_project_spark.pipeline.graph import kcore_peel

    try:
        n = 40
        chain = spark.range(n - 1).select(
            F.col("id").alias("u"), (F.col("id") + 1).alias("v")
        )
        sym = chain.unionByName(
            chain.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).persist()
        kk = spark.createDataFrame([(2,)], schema="kk long").persist()
        deep = kcore_peel(sym, kk, rounds=8, checkpoint_every=3)
        lazy = kcore_peel(sym, kk, rounds=8, checkpoint_every=None)
        deep_plan = len(deep._jdf.queryExecution().analyzed().toString())
        lazy_plan = len(lazy._jdf.queryExecution().analyzed().toString())
        assert deep_plan * 2 < lazy_plan, (deep_plan, lazy_plan)
        d = sorted(map(tuple, deep.collect()))
        l = sorted(map(tuple, lazy.collect()))
        # path peel: sweep r removes nodes r-1 and n-r from each end
        expected = sorted(
            (node, min(node, n - 1 - node) + 1 if min(node, n - 1 - node) < 8 else 0)
            for node in range(n)
        )
        assert d == l == expected
    finally:
        spark.catalog.clearCache()
