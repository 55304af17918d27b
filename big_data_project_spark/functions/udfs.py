"""UDF surface (SURVEY.md §2.10: X1 scalar pandas UDF, X4 Python UDTF,
X5 UDAF-style grouped aggregation).

Rule of thumb encoded here (SURVEY §4.1): built-ins > pandas UDF >>
row-at-a-time Python UDF. X1/X5 exist to prove the Arrow boundary works
and to host kernels that genuinely need numpy; anything expressible as a
Catalyst expression stays an expression. Each Python-boundary query also
has a pure-SQL mirror as its oracle, so the UDF path is differentially
checked against the JVM path.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from big_data_project_spark.io import load_table
from big_data_project_spark.registry import query
from big_data_project_spark.session import temp_view

# --- X1: scalar (vectorized) pandas UDF ------------------------------------


@F.pandas_udf(DoubleType())
def _charge_udf(price: pd.Series, discount: pd.Series, tax: pd.Series) -> pd.Series:
    """Arrow-vectorized: the whole batch is numpy arithmetic, mirroring the
    reference's whole-array kernels (flax_model.py:70-95)."""
    return price * (1.0 - discount) * (1.0 + tax)


@query(
    "x1_pandas_udf_charge",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS total_charge,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def x1_pandas_udf_charge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pandas-UDF path must agree with the pure-SQL oracle — same
    float sequence per row, so sums match after the round rule."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.withColumn("charge", _charge_udf("l_extendedprice", "l_discount", "l_tax"))
        .groupBy("l_returnflag")
        .agg(
            F.round(F.sum("charge"), 4).alias("total_charge"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# --- X4: Python UDTF (one row → many) --------------------------------------


@query(
    "x4_udtf_tokenize",
    oracle="""
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS token,
           CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS INT) AS pos
    FROM (SELECT * FROM documents WHERE doc_id < 50)
    """,
)
def x4_udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF exploding each document into (token, position) rows —
    the patch→pixels / text→tokens expansion shape. (For pure tokenize,
    explode(split()) is the faster built-in; the UDTF exists for
    expansions with real Python logic.)"""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, token string, pos int")
    class Tokenize:
        def eval(self, doc_id: int, text: str):
            for pos, token in enumerate(text.split(" ")):
                yield doc_id, token, pos

    spark.udtf.register("x4_tokenize", Tokenize)
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    docs = temp_view(d.select("doc_id", "text"), "x4_docs")
    return spark.sql(
        f"SELECT t.doc_id, t.token, t.pos FROM {docs}, LATERAL x4_tokenize(doc_id, text) t"
    )


# --- X5: UDAF-style grouped aggregation via applyInPandas ------------------


def _weighted_stats(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-group custom accumulator (the reference's hand-rolled epoch
    metric accumulation, flax_model.py:238-259): quantity-weighted mean
    price + an interquartile range, neither a single built-in."""
    w = pdf["l_quantity"]
    x = pdf["l_extendedprice"]
    wmean = float((w * x).sum() / w.sum()) if w.sum() else 0.0
    q75, q25 = x.quantile(0.75), x.quantile(0.25)
    return pd.DataFrame({
        "l_returnflag": [pdf["l_returnflag"].iloc[0]],
        "weighted_avg_price": [round(wmean + 1e-9, 4)],
        "price_iqr": [round(float(q75 - q25) + 1e-9, 4)],
        "n": [len(pdf)],
    })


@query(
    "x5_udaf_weighted_stats",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_quantity * l_extendedprice) / sum(l_quantity) + 1e-9, 4)
             AS weighted_avg_price,
           round(quantile_cont(l_extendedprice, 0.75)
                 - quantile_cont(l_extendedprice, 0.25) + 1e-9, 4) AS price_iqr,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def x5_udaf_weighted_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped-map UDAF, differentially checked against pure
    SQL: pandas' default quantile interpolation is linear, exactly
    DuckDB's quantile_cont, so both halves (weighted mean + IQR) match
    under the round rule (verified exact at sf0.01)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").applyInPandas(
        _weighted_stats,
        schema="l_returnflag string, weighted_avg_price double, price_iqr double, n long",
    )
