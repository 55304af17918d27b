"""SparkSession builder tuned for this engine.

Design rules (SURVEY.md §4.3):
  - UTC session timezone so timestamp semantics match the DuckDB oracle.
  - ANSI mode on (Spark 4 default) — overflow/bad-cast errors match DuckDB.
  - AQE on: runtime broadcast-join demotion/promotion, skew-join splitting,
    partition coalescing — the knobs that keep the same plan viable from
    sf0.001 local runs up to a 1000-executor 100 TB cluster.
  - Arrow enabled for every JVM↔Python boundary (pandas UDFs, toPandas).
  - shuffle.partitions sized for local[N] testing; on a real cluster AQE's
    coalescing makes the static number mostly irrelevant (we set a high
    initial partition number and let AQE shrink).

The module also owns what a query leaves behind in the session: cached
frames, persisted RDDs (``localCheckpoint`` blocks among them) and the temp
views registered through `temp_view`.  `snapshot_rdd_ids` records the
persisted RDDs, `release` frees everything newer than a snapshot, and
`scope` wraps the pair around a block.  README.md, "Session resources",
states the contract.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

# Views registered through `temp_view`; the next `release` drops them.
_VIEWS: set[str] = set()


def get_spark(app_name: str = "big_data_project_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = str(shuffle_partitions or int(cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- determinism / oracle parity ---
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "true")
        # --- adaptive execution: the scale story ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", shuffle)
        # --- Arrow for every Python boundary ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- scan sizing: on 100 TB this is per-task input split size ---
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # INT64-micros timestamps on write (not legacy INT96): INT96 gets
        # no parquet min/max statistics, which silently disables row-group
        # skipping on every timestamp-sorted layout
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # bucketed-table warehouse outside the repo (co-located joins)
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE",
                               "/tmp/bdp_spark_warehouse"))
        # quiet the local console
        .config("spark.ui.enabled", "false")
        # local-mode driver == executor: leave generous headroom so a long
        # bench session (450+ stages) never tips into GC-pressure tails
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def snapshot_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of the persisted RDDs, localCheckpoint blocks included.

    Iterating the py4j key set costs tens of milliseconds even when it is
    empty, while ``size()`` costs well under one, so the common case of no
    persisted RDD pays only the size probe."""
    jrdds = spark.sparkContext._jsc.getPersistentRDDs()
    if jrdds.size() == 0:
        return set()
    return {int(r) for r in jrdds.keySet()}


def release(spark: SparkSession, before: set[int]) -> int:
    """Free what was left behind since ``before`` (a `snapshot_rdd_ids`
    result): clear every cached frame, drop the views registered through
    `temp_view`, and unpersist every RDD whose id is not in ``before``.
    Returns the number of RDDs unpersisted.

    ``clearCache`` runs first: dropping a view uncaches the view's plan,
    so the views must outlive every read of their cached frames.
    ``clearCache`` does not reach localCheckpoint blocks, hence the RDD
    delta; RDDs persisted before the snapshot are left alone, because
    unpersisting a checkpoint block breaks its frame for good."""
    spark.catalog.clearCache()
    while _VIEWS:
        spark.catalog.dropTempView(_VIEWS.pop())
    jrdds = spark.sparkContext._jsc.getPersistentRDDs()
    if jrdds.size() == 0:
        return 0
    new_ids = [r for r in jrdds.keySet() if int(r) not in before]
    for rid in new_ids:
        jrdds.get(rid).unpersist()
    return len(new_ids)


@contextmanager
def scope(spark: SparkSession) -> Iterator[None]:
    """Release, on exit, what the block left behind (see `release`).

    For callers of the raw, unregistered builder functions: collect every
    frame the block builds before it exits, since the exit drops their
    caches and checkpoint blocks."""
    before = snapshot_rdd_ids(spark)
    try:
        yield
    finally:
        release(spark, before)


def temp_view(df: DataFrame, prefix: str) -> str:
    """Register ``df`` as a temp view under a name unique to this call and
    return the name.  The view lives until the next `release`, so two
    calls never overwrite each other's view nor a caller's own."""
    name = f"{prefix}_{uuid.uuid4().hex}"
    df.createOrReplaceTempView(name)
    _VIEWS.add(name)
    return name
