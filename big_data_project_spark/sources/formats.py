"""Sources & sinks (SURVEY.md §2.1, S1-S7).

Reference grounding: multi-file npz directory scan + per-file parse
(``trainer/flax_model.py:102-115``), ``np.save`` prediction sinks
(``:279-285``), versioned checkpoints with keep=3 retention (``:377``),
TensorBoard metric append stream (``:371-375``).

Sink queries write under a per-process temp dir (never the read-only
fixtures) and re-read their output — each registered query is a full
write→scan round trip, so the oracle checks both directions.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_project_spark.io import load_table
from big_data_project_spark.registry import query


def _tmp(sub: str) -> str:
    base = os.path.join(tempfile.gettempdir(), f"bdp_spark_{os.getpid()}")
    path = os.path.join(base, sub)
    os.makedirs(path, exist_ok=True)
    return path


# --- S1 + S5: partitioned parquet sink → multi-file directory scan ---------


@query(
    "s5_parquet_roundtrip",
    oracle="""
    SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def s5_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write lineitem partitioned by l_returnflag (S5), re-scan the
    resulting multi-file directory tree (S1), aggregate. Equivalence with
    the direct aggregate proves the round trip is lossless. Partitioning
    by the filter column also gives partition pruning on re-read."""
    li = load_table(spark, sf_dir, "lineitem")
    out = _tmp(f"s5_roundtrip_{os.path.basename(sf_dir.rstrip('/'))}")
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    return (
        spark.read.parquet(out)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 4).alias("sum_qty"))
    )


# --- S4: CSV + JSON sources ------------------------------------------------


@query(
    "s4_csv_roundtrip",
    oracle="""
    SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 4) AS sum_total
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def s4_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → CSV (header, explicit timestamp format) → read back with
    schema inference disabled (explicit DDL — inference is a full extra
    pass at 100 TB) → aggregate."""
    o = load_table(spark, sf_dir, "orders")
    out = _tmp(f"s4_csv_{os.path.basename(sf_dir.rstrip('/'))}")
    o.write.mode("overwrite").option("header", True).csv(out)
    schema = ("o_orderkey long, o_custkey long, o_orderstatus string, "
              "o_totalprice double, o_orderdate timestamp, o_orderpriority string")
    return (
        spark.read.schema(schema).option("header", True).csv(out)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 4).alias("sum_total"))
    )


@query(
    "s4_json_roundtrip",
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS k_sum
    FROM events
    GROUP BY event_type
    """,
)
def s4_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → JSON lines → read back (explicit schema) → extract the
    JSON props field (F7) → aggregate."""
    e = load_table(spark, sf_dir, "events")
    out = _tmp(f"s4_json_{os.path.basename(sf_dir.rstrip('/'))}")
    e.write.mode("overwrite").json(out)
    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")
    back = spark.read.schema(schema).json(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.get_json_object("props", "$.k").cast("int")).cast("bigint").alias("k_sum"),
    )


# --- S3: binary (npz) records via binaryFile + Arrow decode ----------------


@query(
    "s3_binary_npz_scan",
    oracle="""
    SELECT 'shard_' || i || '.npz' AS shard,
           p AS patch_idx,
           8 AS h, 8 AS w, 3 AS bands,
           round(avg(((i*97 + p*31 + y*7 + x*13) % 256) * 0.25 + 250), 6) AS lst_mean
    FROM unnest(generate_series(0, 3)) AS si(i),
         unnest(generate_series(0, 7)) AS sp(p),
         unnest(generate_series(0, 7)) AS sy(y),
         unnest(generate_series(0, 7)) AS sx(x)
    GROUP BY i, p
    """,
)
def s3_binary_npz_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's native ingest (np.load of npz shards,
    flax_model.py:53-66) on Spark: binaryFile source → mapInPandas npz
    decode → one row per patch with shape metadata + the per-patch LST
    mean. Shards are synthesized on first call from a deterministic
    integer formula (the real npz data is gitignored in the reference) —
    LST values are exact multiples of 0.25, so the float64 mean is exact
    in BOTH engines and the oracle can recompute the decoded result
    without reading npz: the DuckDB check verifies the binary write →
    binaryFile scan → Arrow-batch np.load roundtrip end to end."""
    import numpy as np

    # content-versioned dir name: a formula change regenerates instead of
    # silently reusing stale shards (the oracle recomputes the formula, so
    # stale content would read as an engine mismatch)
    shard_dir = _tmp("s3_npz_shards_v2")
    existing = [f for f in os.listdir(shard_dir) if f.endswith(".npz")]
    if len(existing) != 4:
        for f in existing:
            os.unlink(os.path.join(shard_dir, f))
        i_ix, p_ix, y_ix, x_ix = np.meshgrid(
            np.arange(4), np.arange(8), np.arange(8), np.arange(8), indexing="ij"
        )
        lst_all = (
            ((i_ix * 97 + p_ix * 31 + y_ix * 7 + x_ix * 13) % 256) * 0.25 + 250
        ).astype(np.float32)[..., None]
        for i in range(4):
            rng = np.random.default_rng(seed=100 + i)
            np.savez(
                os.path.join(shard_dir, f"shard_{i}.npz"),
                inputs=rng.standard_normal((8, 8, 8, 3)).astype(np.float32),
                labels_landcover=rng.integers(0, 9, (8, 8, 8, 1)).astype(np.uint8),
                labels_lst=lst_all[i],
            )

    def decode(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io as _io

        import numpy as _np

        for pdf in pdf_iter:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                with _np.load(_io.BytesIO(content)) as npz:
                    inputs = npz["inputs"]
                    lst = npz["labels_lst"]
                    for p in range(inputs.shape[0]):
                        rows.append({
                            "shard": os.path.basename(path),
                            "patch_idx": p,
                            "h": inputs.shape[1],
                            "w": inputs.shape[2],
                            "bands": inputs.shape[3],
                            "lst_mean": round(float(lst[p].astype("float64").mean()), 6),
                        })
            yield pd.DataFrame(rows)

    files = spark.read.format("binaryFile").load(shard_dir)
    return files.select("path", "content").mapInPandas(
        decode, schema="shard string, patch_idx int, h int, w int, bands int, lst_mean double"
    )


# --- S6: versioned checkpoint sink with keep=N retention -------------------


def write_checkpoint(df: DataFrame, ckpt_root: str, epoch: int, keep: int = 3) -> list[int]:
    """checkpoints.save_checkpoint(ckpt_dir, state, epoch, keep=3)
    (flax_model.py:377) as a partitioned parquet snapshot dir + retention
    sweep. Returns the retained epochs."""
    import shutil

    df.write.mode("overwrite").parquet(os.path.join(ckpt_root, f"epoch={epoch}"))
    epochs = sorted(
        int(d.split("=")[1]) for d in os.listdir(ckpt_root) if d.startswith("epoch=")
    )
    for old in epochs[:-keep]:
        shutil.rmtree(os.path.join(ckpt_root, f"epoch={old}"))
    return epochs[-keep:]


@query(
    "s6_versioned_checkpoints",
    oracle="""
    SELECT t.epoch, (SELECT CAST(count(*) AS BIGINT) FROM nation) AS n_rows
    FROM (VALUES (3), (4), (5)) t(epoch)
    """,
)
def s6_versioned_checkpoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write 5 epoch snapshots with keep=3; return the surviving epochs
    with their row counts. The oracle pins the retention CONTRACT: after
    the sweeps, exactly epochs 3-5 survive, each a full nation snapshot."""
    import shutil

    nation = load_table(spark, sf_dir, "nation")
    root = _tmp("s6_ckpt")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    for epoch in range(1, 6):
        write_checkpoint(nation.withColumn("epoch_val", F.lit(epoch)), root, epoch, keep=3)
    return (
        spark.read.option("basePath", root).parquet(root)
        .groupBy("epoch")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("epoch")
    )


# --- S7: metrics append sink -----------------------------------------------


@query(
    "s7_metrics_append_sink",
    oracle="""
    WITH steps AS (SELECT unnest([0, 1, 2]) AS step),
    per AS (
      SELECT s.step, round(avg(l.l_extendedprice), 4) AS value
      FROM steps s JOIN lineitem l ON l.l_linenumber > s.step
      GROUP BY s.step
    )
    SELECT 'avg_price' AS metric,
           CAST(count(*) AS BIGINT) AS n_steps,
           round(min(value), 4) AS min_value,
           round(max(value), 4) AS max_value
    FROM per
    """,
)
def s7_metrics_append_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """summary_writer.scalar(name, value, step) (flax_model.py:371-375) as
    an append-only parquet metrics log, then the TensorBoard-style
    read side: per-metric series aggregation (§3.3). The oracle recomputes
    each appended step's metric directly — append must be lossless."""
    import shutil

    root = _tmp("s7_metrics")
    shutil.rmtree(root, ignore_errors=True)
    li = load_table(spark, sf_dir, "lineitem")
    for step in range(3):
        metrics = li.filter(F.col("l_linenumber") > step).agg(
            F.round(F.avg("l_extendedprice"), 4).alias("value")
        ).select(
            F.lit("avg_price").alias("metric"), F.lit(step).alias("step"), "value"
        )
        metrics.write.mode("append").parquet(root)
    return (
        spark.read.parquet(root)
        .groupBy("metric")
        .agg(
            F.count(F.lit(1)).alias("n_steps"),
            F.round(F.min("value"), 4).alias("min_value"),
            F.round(F.max("value"), 4).alias("max_value"),
        )
    )


# --- S11: schema evolution on read ------------------------------------------


@query(
    "s11_schema_evolution",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(CASE WHEN o_orderkey % 2 = 1
                          THEN o_totalprice * 0.1 ELSE 0 END) + 1e-9, 4)
             AS sum_discounted
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def s11_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution: a long-lived table accretes columns — old files
    lack them, new files carry them. Write even-key orders with the v1
    schema, append odd-key orders with an extra `discounted` column,
    then read with mergeSchema: the union schema resolves per-file and
    missing values surface as NULL (coalesced to 0 here). At 100 TB this
    is how a column rollout works WITHOUT rewriting petabytes of history.
    (mergeSchema costs a footer pass per file — production tables keep
    the merged schema in a catalog instead; semantics identical.)"""
    o = load_table(spark, sf_dir, "orders")
    out = _tmp(f"s11_evolve_{os.path.basename(sf_dir.rstrip('/'))}")
    import shutil

    shutil.rmtree(out, ignore_errors=True)
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v1.write.parquet(out)
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        (F.col("o_totalprice") * 0.1).alias("discounted"),
    )
    v2.write.mode("append").parquet(out)
    return (
        spark.read.option("mergeSchema", True).parquet(out)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.coalesce("discounted", F.lit(0.0))) + 1e-9, 4).alias(
                "sum_discounted"
            ),
        )
    )


# --- S9: small-file compaction ----------------------------------------------


@query(
    "s9_compaction",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           round(sum(value) + 1e-9, 4) AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def s9_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: the append-heavy ingest pattern (S7, or any
    streaming sink) leaves thousands of tiny files; every later scan then
    pays one task + one footer read per file, and the NameNode/listing
    cost grows unbounded. Compact by rewriting with coalesce() — a
    NARROW repartition that merges files without shuffling a byte (the
    rewrite is the cost; at 100 TB it runs per-partition, compacting only
    partitions whose avg file size is under threshold). The aggregate on
    the compacted copy must equal the oracle on the original table — compaction
    is lossless. File-count collapse is asserted in tests/test_pipeline.py."""
    e = load_table(spark, sf_dir, "events")
    frag = _tmp(f"s9_frag_{os.path.basename(sf_dir.rstrip('/'))}")
    compact = _tmp(f"s9_compact_{os.path.basename(sf_dir.rstrip('/'))}")
    # simulate the fragmented ingest: 64 small files
    e.repartition(64).write.mode("overwrite").parquet(frag)
    spark.read.parquet(frag).coalesce(4).write.mode("overwrite").parquet(compact)
    return (
        spark.read.parquet(compact)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value") + 1e-9, 4).alias("sum_value"),
        )
    )


# --- S10: range-sorted write (data-skipping layout) --------------------------


@query(
    "s10_sorted_write_skipping",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(sum(l_extendedprice) + 1e-9, 4) AS sum_price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-06-01'
      AND l_shipdate <  TIMESTAMP '1995-09-01'
    """,
)
def s10_sorted_write_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustered layout for data skipping: repartitionByRange +
    sortWithinPartitions on l_shipdate before writing, so every parquet
    row group covers a narrow, non-overlapping shipdate range. A
    time-predicate scan then prunes most row groups from the footer
    min/max stats alone — at 100 TB that is the difference between
    reading ~3 months and reading the whole fact table. The pruning
    itself (most row groups' stat ranges disjoint from the predicate) is
    asserted against the parquet footers in tests/test_pipeline.py."""
    li = load_table(spark, sf_dir, "lineitem")
    out = sorted_lineitem_path(spark, sf_dir)
    return (
        spark.read.parquet(out)
        .filter(
            (F.col("l_shipdate") >= F.lit("1995-06-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-09-01").cast("timestamp"))
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice") + 1e-9, 4).alias("sum_price"),
        )
    )


def sorted_lineitem_path(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per process) the range-clustered lineitem copy."""
    out = _tmp(f"s10_sorted_{os.path.basename(sf_dir.rstrip('/'))}")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        li = load_table(spark, sf_dir, "lineitem")
        (
            li.repartitionByRange(8, "l_shipdate")
            .sortWithinPartitions("l_shipdate")
            .write.mode("overwrite")
            .option("parquet.block.size", 1 << 20)  # small row groups → many prunable units
            .parquet(out)
        )
    return out


# --- S8: partition-level upsert (dynamic partition overwrite) ---------------


@query(
    "s8_partition_upsert",
    oracle="""
    WITH m AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS order_month, o_totalprice
      FROM orders
    ), first_m AS (SELECT min(order_month) AS v FROM m)
    SELECT order_month,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(CASE WHEN order_month = (SELECT v FROM first_m)
                          THEN o_totalprice * 2 ELSE o_totalprice END) + 1e-9, 2)
             AS sum_price
    FROM m
    GROUP BY order_month
    """,
)
def s8_partition_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental month-partition upsert: base table partitioned by
    order month; a new batch replaces ONLY the partitions it touches
    (dynamic partitionOverwriteMode), leaving the rest byte-identical —
    the table-format-free upsert pattern for append-mostly 100 TB facts
    (one partition rewrite instead of a full-table rewrite). Returns
    per-month counts + a value checksum; invariants asserted in
    tests/test_pipeline.py."""
    import shutil

    o = load_table(spark, sf_dir, "orders").withColumn(
        "order_month", F.date_format("o_orderdate", "yyyy-MM")
    )
    out = _tmp(f"s8_upsert_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(out, ignore_errors=True)
    o.write.partitionBy("order_month").parquet(out)

    # the "late arriving" batch: re-deliver one month with doubled price
    target_month = o.agg(F.min("order_month")).collect()[0][0]
    patch = (
        o.filter(F.col("order_month") == target_month)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
    )
    patch.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("order_month").parquet(out)

    return (
        spark.read.parquet(out)
        .groupBy("order_month")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice") + 1e-9, 2).alias("sum_price"),
        )
        .orderBy("order_month")
    )


# --- S12: ORC columnar source/sink -----------------------------------------


@query(
    "s12_orc_roundtrip",
    oracle="""
    SELECT l_linestatus, count(*) AS n,
           round(sum(l_extendedprice) + 1e-9, 4) AS sum_price
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def s12_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem → ORC (Spark's built-in native vectorized reader/writer)
    → re-scan → aggregate, proving the second columnar format round-trips
    losslessly. The oracle aggregates the original parquet: equality
    means the ORC path preserved every row and value. Like parquet, ORC
    carries min/max stripe statistics, so filters push down on re-read —
    the engine is format-plural at the scan layer with the same plan
    above it."""
    li = load_table(spark, sf_dir, "lineitem")
    out = _tmp(f"s12_orc_{os.path.basename(sf_dir.rstrip('/'))}")
    li.write.mode("overwrite").orc(out)
    return (
        spark.read.orc(out)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice") + F.lit(1e-9), 4).alias("sum_price"),
        )
    )


# --- S13: Z-order clustered write (two-dimensional data skipping) -----------

_Z_BITS = 8  # 8 bits per dimension → 256 buckets each, 16-bit z-value


def _interleave_bits_nd(bcols, bits: int):
    """N-ary Morton/Z-value: interleave the low `bits` of N bucket ids —
    bit i of dimension j lands at position i*N + (N-1-j), so all
    dimensions contribute equally at every scale.  Pure integer
    expressions, fully codegen'd; works for any N with N*bits ≤ 63."""
    n = len(bcols)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, b in enumerate(bcols):
            z = z + F.shiftright(b, i).bitwiseAND(F.lit(1)) * F.lit(
                1 << (i * n + (n - 1 - j))
            )
    return z


def _interleave_bits(bx, by, bits: int):
    """Two-dimensional Z-value (s13's original form)."""
    return _interleave_bits_nd([bx, by], bits)


def zorder_lineitem_path(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per process) a lineitem copy clustered on the Z-order
    curve over (l_partkey, l_suppkey)."""
    out = _tmp(f"s13_zorder_{os.path.basename(sf_dir.rstrip('/'))}")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        li = load_table(spark, sf_dir, "lineitem")
        bounds = li.agg(
            F.max("l_partkey").alias("maxp"), F.max("l_suppkey").alias("maxs")
        )
        both = li.crossJoin(F.broadcast(bounds))
        bx = F.floor(F.col("l_partkey") * (1 << _Z_BITS) / (F.col("maxp") + 1)).cast("long")
        by = F.floor(F.col("l_suppkey") * (1 << _Z_BITS) / (F.col("maxs") + 1)).cast("long")
        (
            both.withColumn("zval", _interleave_bits(bx, by, _Z_BITS))
            .drop("maxp", "maxs")
            .repartitionByRange(8, "zval")
            .sortWithinPartitions("zval")
            .drop("zval")
            .write.mode("overwrite")
            .option("parquet.block.size", 1 << 20)
            .parquet(out)
        )
    return out


# --- S15: N-dimensional Z-order clustered write (3-column skipping) ---------

_Z3_BITS = 6  # 6 bits × 3 dims → 18-bit z-value, 64 buckets per dimension
_Z3_COLS = ("l_partkey", "l_suppkey", "l_orderkey")


def zorder3_lineitem_path(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per process) a lineitem copy clustered on the 3-D
    Z-order curve over (l_partkey, l_suppkey, l_orderkey).

    Files are directory-partitioned by the top-level octant (the three
    leading z bits) rather than range-partitioned on raw zval: sampled
    range boundaries straddle octant borders, and a file spanning two
    octants loses footer prunability on every dimension whose leading bit
    differs between them (measured: 4/8 files unprunable that way).
    Octant dirs guarantee each file is an axis-aligned cube."""
    out = _tmp(f"s15_zorder3_{os.path.basename(sf_dir.rstrip('/'))}")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        li = load_table(spark, sf_dir, "lineitem")
        bounds = li.agg(*[F.max(c).alias(f"mx_{c}") for c in _Z3_COLS])
        both = li.crossJoin(F.broadcast(bounds))
        bcols = [
            F.floor(F.col(c) * (1 << _Z3_BITS) / (F.col(f"mx_{c}") + 1)).cast("long")
            for c in _Z3_COLS
        ]
        n_dims = len(_Z3_COLS)
        zval = _interleave_bits_nd(bcols, _Z3_BITS)
        (
            both.withColumn("zval", zval)
            .withColumn("zoct", F.shiftright("zval", n_dims * (_Z3_BITS - 1)))
            .drop(*[f"mx_{c}" for c in _Z3_COLS])
            .repartition(1 << n_dims, "zoct")
            .sortWithinPartitions("zoct", "zval")
            .drop("zval")
            .write.mode("overwrite")
            .partitionBy("zoct")
            .option("parquet.block.size", 1 << 20)
            .parquet(out)
        )
    return out


@query(
    "s15_zorder3_write_skipping",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(sum(l_extendedprice) + 1e-9, 4) AS sum_price
    FROM lineitem
    WHERE l_partkey <= (SELECT max(l_partkey) / 2.0 FROM lineitem)
      AND l_suppkey <= (SELECT max(l_suppkey) / 2.0 FROM lineitem)
      AND l_orderkey <= (SELECT max(l_orderkey) / 2.0 FROM lineitem)
    """,
)
def s15_zorder3_write_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-dimensional generalization of s13: the N-ary Morton encoding
    round-robins one bit per dimension, so row groups become axis-aligned
    cubes and a conjunctive three-column predicate prunes on footer stats
    for each column independently (a half×half×half region touches ~1/8
    of the curve).  The encoder works for any N with N·bits ≤ 63 —
    adding dimensions trades per-dimension resolution for breadth, the
    standard multi-tenant layout choice.  Pruning on all three dims is
    asserted against the parquet footers in tests/test_pipeline.py."""
    li = load_table(spark, sf_dir, "lineitem")
    bounds = li.agg(*[F.max(c).alias(f"mx_{c}") for c in _Z3_COLS])
    out = zorder3_lineitem_path(spark, sf_dir)
    df = spark.read.parquet(out).crossJoin(F.broadcast(bounds))
    for c in _Z3_COLS:
        df = df.filter(F.col(c) <= F.col(f"mx_{c}") / 2.0)
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_extendedprice") + F.lit(1e-9), 4).alias("sum_price"),
    )


@query(
    "s13_zorder_write_skipping",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(sum(l_extendedprice) + 1e-9, 4) AS sum_price
    FROM lineitem
    WHERE l_partkey <= (SELECT max(l_partkey) / 4.0 FROM lineitem)
      AND l_suppkey <= (SELECT max(l_suppkey) / 4.0 FROM lineitem)
    """,
)
def s13_zorder_write_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering: single-key range sorting (s10) prunes ONE
    predicate dimension and nothing else; interleaving the bucket bits of
    (l_partkey, l_suppkey) gives row groups that are axis-aligned tiles
    in BOTH dimensions, so a conjunctive two-column predicate skips on
    footer stats for each column independently. A quarter×quarter region
    maps to a z-range prefix covering ~1/16 of the curve — at 100 TB the
    canonical layout for multi-tenant scans filtered on two id columns.
    Pruning is asserted against the parquet footers in
    tests/test_pipeline.py."""
    li = load_table(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.max("l_partkey").alias("maxp"), F.max("l_suppkey").alias("maxs")
    )
    out = zorder_lineitem_path(spark, sf_dir)
    return (
        spark.read.parquet(out)
        .crossJoin(F.broadcast(bounds))
        .filter(
            (F.col("l_partkey") <= F.col("maxp") / 4.0)
            & (F.col("l_suppkey") <= F.col("maxs") / 4.0)
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice") + F.lit(1e-9), 4).alias("sum_price"),
        )
    )


# --- S16: XML source/sink (Spark 4 native XML, third interchange format) ----


@query(
    "s16_xml_roundtrip",
    oracle="""
    SELECT doc_id, lang, source, md5(text) AS text_md5, n_chars
    FROM documents
    """,
)
def s16_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → XML (Spark 4's built-in XML source, rowTag elements) →
    re-scan → per-row digest. The oracle reads the ORIGINAL parquet, so
    equality proves the XML write+read preserved every row and value —
    including the free-text column through XML escaping. XML is a
    row-major interchange format (no column pruning / predicate
    pushdown), so the engine treats it as an ingest boundary: land it,
    convert to parquet, query the parquet — exactly how a 100 TB feed of
    XML exports enters the lake."""
    d = load_table(spark, sf_dir, "documents")
    out = _tmp(f"s16_xml_{os.path.basename(sf_dir.rstrip('/'))}")
    d.write.mode("overwrite").option("rowTag", "doc").format("xml").save(out)
    back = spark.read.option("rowTag", "doc").format("xml").load(out)
    return back.select(
        "doc_id", "lang", "source",
        F.md5(F.col("text")).alias("text_md5"),
        "n_chars",
    )


# --- S17: hive-partitioned scan with partition pruning ----------------------


def partitioned_lineitem_path(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per process) lineitem partitioned by l_returnflag —
    the hive-layout directory tree a partitioned data lake serves.

    Reuse is gated on the _SUCCESS marker, not on the directory being
    non-empty: a write that died mid-job leaves a partial tree that a
    non-empty check would silently scan forever after."""
    out = _tmp(f"s17_part_{os.path.basename(sf_dir.rstrip('/'))}")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        load_table(spark, sf_dir, "lineitem").write.mode("overwrite").partitionBy(
            "l_returnflag"
        ).parquet(out)
    return out


@query(
    "s17_partition_pruned_scan",
    oracle="""
    SELECT l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(l_extendedprice), 4) AS sum_price
    FROM lineitem
    WHERE l_returnflag = 'R'
    GROUP BY l_linestatus
    """,
)
def s17_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter on the PARTITION column of a hive-partitioned layout: the
    predicate must resolve at PLANNING time against directory names —
    PartitionFilters in the scan node, non-matching directories never
    listed or read.  At 100 TB this is the difference between scanning
    one partition and scanning the lake; the plan contract in
    tests/test_plans.py asserts the filter lands in PartitionFilters
    (not a post-scan Filter) and the aggregate equals the unpartitioned
    oracle."""
    out = partitioned_lineitem_path(spark, sf_dir)
    return (
        spark.read.parquet(out)
        .filter(F.col("l_returnflag") == "R")
        .groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
        )
    )


# --- S18: dynamic partition pruning (runtime pruning via a dim join) --------


@query(
    "s18_dynamic_partition_pruning",
    oracle="""
    WITH dim(l_returnflag, flag_class) AS (
      VALUES ('R', 'returns'), ('A', 'acknowledged'), ('N', 'open')
    )
    SELECT l.l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(l.l_extendedprice), 4) AS sum_price
    FROM lineitem l
    JOIN dim d ON l.l_returnflag = d.l_returnflag
    WHERE d.flag_class = 'returns'
    GROUP BY l.l_linestatus
    """,
)
def s18_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is partitioned on the
    join key and the dim side carries the selective filter, so the set of
    fact partitions to read is only known AT RUNTIME — Spark reuses the
    dim's broadcast result as a pruning subquery
    (``dynamicpruningexpression`` inside the scan's PartitionFilters,
    pinned in tests/test_plans.py).  At 100 TB this is the star-schema
    pattern: 'revenue for returned items' reads the R partition, not the
    lake.  The dim is written to parquet first — DPP needs a real scan
    on the filtering side to estimate benefit."""
    out = partitioned_lineitem_path(spark, sf_dir)
    dim_path = _tmp(f"s18_dim_{os.path.basename(sf_dir.rstrip('/'))}")
    if not os.path.exists(os.path.join(dim_path, "_SUCCESS")):
        spark.createDataFrame(
            [("R", "returns"), ("A", "acknowledged"), ("N", "open")],
            "l_returnflag string, flag_class string",
        ).write.mode("overwrite").parquet(dim_path)
    fact = spark.read.parquet(out)
    dim = spark.read.parquet(dim_path).filter(F.col("flag_class") == "returns")
    return (
        fact.join(dim, "l_returnflag")
        .groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
        )
    )


# --- S19: SCD2 dimension merge ----------------------------------------------
#
# Completes the warehouse-maintenance trio (s8 partition upsert, s9
# compaction): slowly-changing-dimension type 2 — an update batch closes
# the matched current rows and appends new versions, no-op updates (same
# attribute values) leave the dimension untouched.

_SCD2_EFF = "1998-01-01"   # effective date of the update batch


@query(
    "s19_scd2_merge",
    oracle=f"""
    WITH base AS (
      SELECT c_custkey, c_mktsegment, round(c_acctbal, 2) AS c_acctbal
      FROM customer
    ),
    upd AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 7 = 0 THEN 'MIGRATED' ELSE c_mktsegment END
               AS new_seg,
             round(CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 100
                        ELSE c_acctbal END, 2) AS new_bal
      FROM base
      WHERE c_custkey % 5 = 0 OR c_custkey % 7 = 0 OR c_custkey % 11 = 0
    ),
    merged AS (
      SELECT b.c_custkey, b.c_mktsegment, b.c_acctbal,
             u.new_seg, u.new_bal,
             u.c_custkey IS NOT NULL
               AND (u.new_seg <> b.c_mktsegment OR u.new_bal <> b.c_acctbal)
               AS changed
      FROM base b LEFT JOIN upd u USING (c_custkey)
    ),
    scd AS (
      SELECT c_custkey, c_mktsegment AS seg, c_acctbal AS bal,
             1 AS version, DATE '1995-01-01' AS valid_from,
             CASE WHEN changed THEN DATE '{_SCD2_EFF}' END AS valid_to,
             NOT changed AS is_current
      FROM merged
      UNION ALL
      SELECT c_custkey, new_seg, new_bal,
             2, DATE '{_SCD2_EFF}', NULL, true
      FROM merged WHERE changed
    )
    SELECT is_current, version,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(bal) + 1e-9, 2) AS sum_bal,
           CAST(sum(CAST('0x' || substr(
                  md5(CAST(c_custkey AS VARCHAR) || '|' || seg || '|'
                      || CAST(valid_from AS VARCHAR)), 1, 15) AS BIGINT)
                % 1000000007) AS BIGINT) AS key_digest
    FROM scd
    GROUP BY is_current, version
    """,
)
def s19_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 merge of a deterministic update batch into the customer
    dimension: matched-and-changed keys get their v1 row closed
    (valid_to = effective date) plus a v2 current row appended; no-op
    updates (identical attribute values — the %11 stripe) fall through
    unchanged.

    Scale design: SCD2 is ONE co-partitioned left join on the dimension
    key followed by a narrow per-row fan-out (array-of-struct explode,
    ≤2 rows out per row in) — no window over key history is needed
    because a current dimension holds exactly one open row per key.  At
    100 TB the update batch is typically small: AQE turns the join
    broadcast and the merge becomes exchange-free up to the report agg.
    Verified by per-(is_current, version) counts, balance sums, and the
    shared 60-bit md5-prefix digest over (key, segment, valid_from)."""
    from big_data_project_spark.pipeline.digest import md5_prefix_digest

    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", F.round("c_acctbal", 2).alias("c_acctbal")
    )
    k = F.col("c_custkey")
    upd = (
        base.filter((k % 5 == 0) | (k % 7 == 0) | (k % 11 == 0))
        .select(
            "c_custkey",
            F.when(k % 7 == 0, F.lit("MIGRATED")).otherwise(F.col("c_mktsegment"))
              .alias("new_seg"),
            F.round(
                F.when(k % 5 == 0, F.col("c_acctbal") + 100).otherwise(F.col("c_acctbal")),
                2,
            ).alias("new_bal"),
        )
    )
    changed = F.col("new_seg").isNotNull() & (
        (F.col("new_seg") != F.col("c_mktsegment"))
        | (F.col("new_bal") != F.col("c_acctbal"))
    )
    eff = F.lit(_SCD2_EFF).cast("date")
    row = lambda seg, bal, ver, vfrom, vto, cur: F.struct(  # noqa: E731
        seg.alias("seg"), bal.alias("bal"), ver.alias("version"),
        vfrom.alias("valid_from"), vto.alias("valid_to"), cur.alias("is_current"),
    )
    v1_open = row(F.col("c_mktsegment"), F.col("c_acctbal"), F.lit(1),
                  F.lit("1995-01-01").cast("date"), F.lit(None).cast("date"), F.lit(True))
    v1_closed = row(F.col("c_mktsegment"), F.col("c_acctbal"), F.lit(1),
                    F.lit("1995-01-01").cast("date"), eff, F.lit(False))
    v2_open = row(F.col("new_seg"), F.col("new_bal"), F.lit(2),
                  eff, F.lit(None).cast("date"), F.lit(True))
    scd = (
        base.join(upd, "c_custkey", "left")
        .select(
            "c_custkey",
            F.explode(
                F.when(changed, F.array(v1_closed, v2_open)).otherwise(F.array(v1_open))
            ).alias("r"),
        )
        .select("c_custkey", "r.*")
    )
    h = F.md5(
        F.concat_ws("|", F.col("c_custkey").cast("string"), "seg",
                    F.col("valid_from").cast("string"))
    )
    return scd.groupBy("is_current", "version").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("bal") + F.lit(1e-9), 2).alias("sum_bal"),
        F.sum(md5_prefix_digest(h)).cast("bigint").alias("key_digest"),
    )


# --- S20: deletion propagation (right-to-be-forgotten sweep) ----------------


@query(
    "s20_delete_propagation",
    oracle="""
    WITH del AS (SELECT c_custkey FROM customer WHERE c_custkey % 13 = 0),
    o_kept AS (
      SELECT o.* FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM del WHERE del.c_custkey = o.o_custkey)
    ),
    o_del AS (
      SELECT o.o_orderkey FROM orders o
      WHERE EXISTS (SELECT 1 FROM del WHERE del.c_custkey = o.o_custkey)
    ),
    l_kept AS (
      SELECT l.* FROM lineitem l
      WHERE NOT EXISTS (SELECT 1 FROM o_del o WHERE o.o_orderkey = l.l_orderkey)
    )
    SELECT 'customer' AS tbl,
           CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_before,
           CAST((SELECT count(*) FROM customer) -
                (SELECT count(*) FROM del) AS BIGINT) AS n_after
    UNION ALL
    SELECT 'orders',
           CAST((SELECT count(*) FROM orders) AS BIGINT),
           CAST((SELECT count(*) FROM o_kept) AS BIGINT)
    UNION ALL
    SELECT 'lineitem',
           CAST((SELECT count(*) FROM lineitem) AS BIGINT),
           CAST((SELECT count(*) FROM l_kept) AS BIGINT)
    """,
)
def s20_delete_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten sweep: a deletion key-list (every 13th
    customer) cascades customer → orders → lineitem, reporting
    before/after row counts per table.

    Scale design: every hop anti-joins against the DELETED key set,
    never the surviving one — the deletion list and the orderkeys it
    touches stay proportional to the deletion batch while the survivors
    are the whole fact table.  No forced broadcast hint: a realistically
    small GDPR batch broadcasts via AQE (zero wide shuffles), while an
    oversized batch — this fixture's every-13th-customer sweep at a big
    SF would be one — degrades to a shuffle anti-join instead of blowing
    the broadcast limit.  The oracle states the same cascade as
    NOT EXISTS over the deleted sets."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    del_keys = c.filter(F.col("c_custkey") % 13 == 0).select("c_custkey")
    o_kept = o.join(del_keys, o.o_custkey == del_keys.c_custkey, "left_anti")
    o_del = o.join(
        del_keys, o.o_custkey == del_keys.c_custkey, "left_semi"
    ).select("o_orderkey")
    l_kept = li.join(o_del, li.l_orderkey == F.col("o_orderkey"), "left_anti")
    def counts(tbl: str, before: DataFrame, after: DataFrame) -> DataFrame:
        return (
            before.agg(F.count(F.lit(1)).alias("n_before"))
            .crossJoin(after.agg(F.count(F.lit(1)).alias("n_after")))
            .select(F.lit(tbl).alias("tbl"), "n_before", "n_after")
        )
    return (
        counts("customer", c, c.join(del_keys, "c_custkey", "left_anti"))
        .unionAll(counts("orders", o, o_kept))
        .unionAll(counts("lineitem", li, l_kept))
    )


# --- S21: manifest-based incremental ingest ---------------------------------


@query(
    "s21_incremental_ingest",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value) + 1e-9, 2) AS sum_value
    FROM events
    GROUP BY 1
    """,
)
def s21_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-driven incremental ingest: batch 1 of a day-partitioned
    lake is processed and its partitions recorded in a manifest; when
    batch 2 lands, the incremental pass diffs the partition listing
    against the manifest and reads ONLY the new days — a partition-
    column predicate, so the pruning happens at planning time (the s17
    property), not by scanning and discarding.  The union of the first
    pass's saved aggregates and the incremental pass must equal the
    full-table aggregate, which is exactly what the oracle states.

    At 100 TB this is the nightly-append pattern: the manifest bounds
    per-pass work to the arriving partitions regardless of table size."""
    import shutil

    e = load_table(spark, sf_dir, "events").withColumn(
        "day", F.col("ts").cast("date").cast("string")
    )
    # keyed on applicationId on top of _tmp's per-pid base: the lake is
    # rmtree'd at entry, so any concurrent session sharing the path (e.g.
    # two SparkSessions in one process) would delete the other's
    # lake/manifest mid-query
    base = _tmp(
        f"s21_incr_{os.path.basename(sf_dir.rstrip('/'))}_"
        f"{spark.sparkContext.applicationId}"
    )
    lake, agg_store = os.path.join(base, "lake"), os.path.join(base, "agg")
    shutil.rmtree(lake, ignore_errors=True)
    shutil.rmtree(agg_store, ignore_errors=True)

    days = sorted(r.day for r in e.select("day").distinct().collect())
    cutoff = days[len(days) // 2]
    batch1 = e.filter(F.col("day") <= cutoff)
    batch2 = e.filter(F.col("day") > cutoff)

    # batch 1 lands; process it and persist its aggregates + manifest
    batch1.write.partitionBy("day").parquet(lake)
    # partition-column inference reads day= back as DATE — normalize to
    # string so both passes and the oracle agree on the type
    agg = lambda df: df.groupBy(  # noqa: E731
        F.col("day").cast("string").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value") + F.lit(1e-9), 2).alias("sum_value"),
    )
    agg(spark.read.parquet(lake)).write.parquet(agg_store)
    manifest = {d for d in days if d <= cutoff}

    # batch 2 lands in the same lake
    batch2.write.mode("append").partitionBy("day").parquet(lake)

    # incremental pass: diff the partition listing against the manifest,
    # read only the new day-partitions (planning-time partition pruning)
    on_disk = {
        d.split("=", 1)[1]
        for d in os.listdir(lake)
        if d.startswith("day=")
    }
    new_days = sorted(on_disk - manifest)
    incr = agg(
        spark.read.parquet(lake).filter(F.col("day").isin(new_days))
    )
    return spark.read.parquet(agg_store).unionByName(incr)


# --- S22: corrupt-record handling on semi-structured ingest -----------------


@query(
    "s22_corrupt_records",
    oracle="""
    SELECT CASE WHEN event_id % 11 = 3 THEN 'corrupt' ELSE 'valid' END AS status,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN event_id % 11 = 3 THEN 0 ELSE user_id END)
                AS BIGINT) AS user_id_sum
    FROM events
    GROUP BY 1
    """,
)
def s22_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode ingest of a JSON feed with injected corruption:
    every 11th-ish record is truncated mid-object before the write, and
    the reader routes it to the _corrupt_record side channel instead of
    failing the job — the production posture for semi-structured feeds,
    where one malformed upstream line must not kill a 100 TB ingest.
    The corrupt rows parse all data columns as NULL, so the valid/
    corrupt counts and the user_id sum over valid rows (the oracle
    recomputes both from the injection rule) prove the reader dropped
    nothing and salvaged nothing it shouldn't."""
    import shutil

    e = load_table(spark, sf_dir, "events")
    out = _tmp(f"s22_corrupt_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(out, ignore_errors=True)
    # serialize each row to a JSON line, truncating the corrupt stripe
    line = F.to_json(F.struct("event_id", "user_id", "event_type"))
    mangled = e.select(
        F.when(
            F.col("event_id") % 11 == 3, F.substring(line, 1, 10)
        ).otherwise(line).alias("value")
    )
    mangled.write.mode("overwrite").text(out)

    schema = ("event_id long, user_id long, event_type string, "
              "_corrupt_record string")
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
    )
    return (
        back.select(
            F.when(F.col("_corrupt_record").isNotNull(), F.lit("corrupt"))
            .otherwise(F.lit("valid"))
            .alias("status"),
            F.coalesce(F.col("user_id"), F.lit(0)).alias("uid"),
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("uid").cast("bigint").alias("user_id_sum"),
        )
    )


# --- pipeline_read_dataset_split: the reference's full read_dataset —
# --- scan → parse → impute → split -----------------------------------------

_RD_SHARDS = 4
_RD_PATCHES = 8
_RD_SIDE = 8
_RD_VALID = (200.0, 330.0)
_RD_RATIO = 0.9


def _rd_shard_dir() -> str:
    """Synthesize the v3 shard set: the s3 formula EXTENDED with
    deterministic out-of-range cells (``(i·31+p·7+y·13+x·3) % 19 == 0``
    → 400.0, above the valid ceiling) so the impute path actually
    fires — the base s3 shards are entirely in-range.  All values stay
    exact multiples of 0.25, so every downstream float64 sum is EXACT
    and reduction order cannot move a single ulp (the property the s3
    oracle already relies on)."""
    import shutil

    import numpy as np

    # Write-once, atomic-publish (ADVICE r17): generate into a staging
    # sibling and os.rename it into place, so a crash mid-generation can
    # never leave a partial-but-count-coincident shard set that a later
    # run would silently reuse.  The published dir is only ever the
    # result of a completed generation; reuse checks existence alone.
    base = os.path.join(tempfile.gettempdir(), f"bdp_spark_{os.getpid()}")
    shard_dir = os.path.join(base, "s3_npz_shards_v3_invalid")
    if os.path.isdir(shard_dir):
        return shard_dir
    stage = _tmp("s3_npz_shards_v3_invalid.staging")
    for f in os.listdir(stage):
        os.unlink(os.path.join(stage, f))
    i_ix, p_ix, y_ix, x_ix = np.meshgrid(
        np.arange(_RD_SHARDS), np.arange(_RD_PATCHES),
        np.arange(_RD_SIDE), np.arange(_RD_SIDE), indexing="ij",
    )
    base_v = ((i_ix * 97 + p_ix * 31 + y_ix * 7 + x_ix * 13) % 256) * 0.25 + 250
    invalid = (i_ix * 31 + p_ix * 7 + y_ix * 13 + x_ix * 3) % 19 == 0
    lst_all = np.where(invalid, 400.0, base_v).astype(np.float32)[..., None]
    for i in range(_RD_SHARDS):
        rng = np.random.default_rng(seed=200 + i)
        np.savez(
            os.path.join(stage, f"shard_{i}.npz"),
            inputs=rng.standard_normal(
                (_RD_PATCHES, _RD_SIDE, _RD_SIDE, 3)
            ).astype(np.float32),
            labels_landcover=rng.integers(
                0, 9, (_RD_PATCHES, _RD_SIDE, _RD_SIDE, 1)
            ).astype(np.uint8),
            labels_lst=lst_all[i],
        )
    try:
        os.rename(stage, shard_dir)
    except OSError:
        # lost a publish race to a concurrent generator — its completed
        # set is identical (deterministic formula); drop the staging copy
        shutil.rmtree(stage, ignore_errors=True)
    return shard_dir


def read_dataset_split(
    spark: SparkSession, sf_dir: str, train_ratio: float = _RD_RATIO
) -> DataFrame:
    """The reference's FULL ingest — ``read_dataset``
    (trainer/flax_model.py:99-144) — as ONE composed pipeline over the
    deterministic npz shards: glob the shard directory (:102, the s1
    scan), np.load each shard's patches (:110 via ``read_example``
    :53-66, the s3 decode), repair out-of-range temperatures
    (``interpolate_invalid_temperatures`` :79-96: invalid-mask →
    replace → clip to the valid range; the p3/p4 shapes — the
    replacement here is the patch's valid-cell mean quantized back to
    the 0.25 sensor grid, where the reference uses a Gaussian-filter
    estimate, transposed so the oracle stays exact), concatenate
    (:118-120, u1), and the SEQUENTIAL train/test split ``train_size =
    int(n · ratio)`` over global patch order (:125-131, the o3 shape).
    Output: one row per patch — (split, shard, patch_idx, n_cells,
    n_invalid, lst_mean) with lst_mean over the IMPUTED cells.

    Parity: every stored LST value (including the quantized
    replacement and the clip endpoints) is a multiple of 0.25, so all
    sums are exact in float64 and partial-aggregation order cannot
    diverge; the valid-mean divides an exact sum by a cell count and
    rounds to 6 with the §4.3.1 nudge, and its ×4 re-quantization
    carries the same nudge before the integer round.

    Scale design: ONE Arrow pass over the binary shards (mapInPandas
    decode, the only Python), per-patch stats as one partial+final agg
    keyed (shard, patch), the stats frame broadcast back into the
    cell-level impute join (patch-bounded), and the split a pure
    projection over the global patch index — no shuffle the ingest
    didn't already need.  At a real corpus each shard decodes
    independently (binaryFile splits by file) and the split index is
    metadata, exactly how a distributed loader shards a training
    manifest."""
    shard_dir = _rd_shard_dir()
    lo, hi = _RD_VALID
    total = _RD_SHARDS * _RD_PATCHES
    train_size = int(total * train_ratio)  # the reference's int() truncation

    def decode(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io as _io

        import numpy as _np

        for pdf in pdf_iter:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                with _np.load(_io.BytesIO(content)) as npz:
                    lst = npz["labels_lst"].astype("float64")
                    for p in range(lst.shape[0]):
                        for y in range(lst.shape[1]):
                            for x in range(lst.shape[2]):
                                rows.append({
                                    "shard": os.path.basename(path),
                                    "patch_idx": p,
                                    "lst": float(lst[p, y, x, 0]),
                                })
            yield pd.DataFrame(rows)

    files = spark.read.format("binaryFile").load(shard_dir)
    # persist the decoded cells: BOTH the stats agg and the impute join
    # consume them, and an unpersisted fan-out would run the Arrow
    # decode pass twice (pinned: exactly one MapInPandas).  Released by
    # the next entry point's cache/RDD sweep.
    cells = files.select("path", "content").mapInPandas(
        decode, schema="shard string, patch_idx int, lst double"
    ).persist()
    valid = (F.col("lst") >= F.lit(lo)) & (F.col("lst") <= F.lit(hi))
    stats = cells.groupBy("shard", "patch_idx").agg(
        F.round(F.avg(F.when(valid, F.col("lst"))) + F.lit(1e-9), 6).alias(
            "valid_mean"
        ),
        F.sum(F.when(valid, 0).otherwise(1)).alias("n_invalid"),
    )
    repl = F.least(
        F.greatest(
            F.round(F.col("valid_mean") * 4 + F.lit(1e-9), 0) / 4, F.lit(lo)
        ),
        F.lit(hi),
    )
    imp = (
        cells.join(F.broadcast(stats), ["shard", "patch_idx"])
        .withColumn("lst_i", F.when(valid, F.col("lst")).otherwise(repl))
    )
    gidx = (
        F.regexp_extract("shard", r"shard_(\d+)", 1).cast("int")
        * _RD_PATCHES
        + F.col("patch_idx")
    )
    return (
        imp.groupBy("shard", "patch_idx", "n_invalid")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.round(F.avg("lst_i") + F.lit(1e-9), 6).alias("lst_mean"),
        )
        .select(
            F.when(gidx < train_size, F.lit("train"))
            .otherwise(F.lit("test"))
            .alias("split"),
            "shard",
            "patch_idx",
            "n_cells",
            F.col("n_invalid").cast("long").alias("n_invalid"),
            "lst_mean",
        )
        .orderBy("shard", "patch_idx")
    )


def _read_dataset_oracle(train_ratio: float = _RD_RATIO) -> str:
    """The composition's oracle: rebuild the per-cell grid (base
    formula + the deterministic invalid mask) with generate_series,
    mirror the valid-mean/quantize/clip impute and the sequential
    int(n·ratio) split — rounding point for rounding point."""
    lo, hi = _RD_VALID
    train_size = int(_RD_SHARDS * _RD_PATCHES * train_ratio)
    return f"""
    WITH cells AS MATERIALIZED (
      SELECT i, p,
             CASE WHEN (i*31 + p*7 + y*13 + x*3) % 19 = 0 THEN 400.0
                  ELSE ((i*97 + p*31 + y*7 + x*13) % 256) * 0.25 + 250
             END AS lst
      FROM unnest(generate_series(0, {_RD_SHARDS - 1})) AS si(i),
           unnest(generate_series(0, {_RD_PATCHES - 1})) AS sp(p),
           unnest(generate_series(0, {_RD_SIDE - 1})) AS sy(y),
           unnest(generate_series(0, {_RD_SIDE - 1})) AS sx(x)),
    stats AS MATERIALIZED (
      SELECT i, p,
             round(avg(CASE WHEN lst >= {lo!r} AND lst <= {hi!r}
                            THEN lst END) + 1e-9, 6) AS valid_mean,
             CAST(sum(CASE WHEN lst < {lo!r} OR lst > {hi!r}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid
      FROM cells GROUP BY i, p),
    imp AS MATERIALIZED (
      SELECT c.i, c.p, s.n_invalid,
             CASE WHEN c.lst >= {lo!r} AND c.lst <= {hi!r} THEN c.lst
                  ELSE least(greatest(round(s.valid_mean * 4 + 1e-9) / 4,
                                      {lo!r}), {hi!r})
             END AS lst_i
      FROM cells c JOIN stats s ON s.i = c.i AND s.p = c.p)
    SELECT CASE WHEN i * {_RD_PATCHES} + p < {train_size}
                THEN 'train' ELSE 'test' END AS split,
           'shard_' || i || '.npz' AS shard,
           CAST(p AS INT) AS patch_idx,
           CAST(count(*) AS BIGINT) AS n_cells,
           n_invalid,
           round(avg(lst_i) + 1e-9, 6) AS lst_mean
    FROM imp
    GROUP BY i, p, n_invalid
"""


# Closes the reference's read_dataset seam, trainer/flax_model.py:99-144.
query("pipeline_read_dataset_split", oracle=_read_dataset_oracle())(
    read_dataset_split
)
