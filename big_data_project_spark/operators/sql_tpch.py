"""Adapted TPC-H query-shape suite, SQL-text surface (SURVEY §2 "SQL
surface" breadth; complements sql_surface.py's Q17/Q20/Q21/LATERAL set).

Each query is the classic TPC-H shape transposed onto the driver's
TPC-H-ish fixtures (FIXTURES.md). The fixtures omit ``partsupp`` and a few
columns (l_shipmode, l_commitdate, o_shippriority, c_phone), so the shapes
that depend on them are *adapted*, preserving the plan-shape challenge the
original query poses (the decorrelation, the OR-of-ANDs join predicate,
the anti-join, …) while staying expressible on the available schema:

- Q4  uses ``l_shipdate > o_orderdate + 90 days`` for "late" (no commit /
  receipt dates), keeping the correlated-EXISTS shape.
- Q9  prices cost as ``0.5 * p_retailprice * l_quantity`` (no
  ps_supplycost), keeping the 5-way join + LIKE filter + year rollup.
- Q12 buckets by shipping delay instead of l_shipmode, keeping the
  CASE-pivot over a fact join.
- Q16 counts distinct suppliers via lineitem (no partsupp), keeping the
  distinct-agg over a selective multi-IN filter.
- Q19 keeps the OR-of-ANDs predicate over brand/size/quantity bands (no
  p_container), the classic test that the optimizer extracts the common
  equi-join key out of the disjunction instead of nested-looping.
- Q22 derives ``cntrycode`` from c_nationkey (no c_phone) and anti-joins
  on "no recent orders", keeping NOT-EXISTS + uncorrelated scalar avg.

Q2/Q11 are partsupp-native; the fixture ships no ``partsupp``, so both run
on a DETERMINISTIC synthetic partsupp derived in-query from part×supplier
(``_PARTSUPP_CTE`` below — exact-integer cents, SF-scaling via the live
supplier count, identical text on both engines). Q1's shape is
``flagship_pricing_summary``, Q17/Q20/Q21 live in sql_surface.py.

Identical ANSI text runs on Spark and the DuckDB oracle (parity rules of
registry.py: round+1e-9 on float aggs, BIGINT casts on counts, total order
under every LIMIT). Reference grounding: the reference's surviving engine
is a training loop (SURVEY §0); the relational surface is mandated by the
driver contract (BASELINE.json "metric", __spark_entry__.py:1-8) [DRV].
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from big_data_project_spark.io import load_all
from big_data_project_spark.registry import query


def _sql(spark: SparkSession, sf_dir: str, text: str) -> DataFrame:
    load_all(spark, sf_dir)
    return spark.sql(text)


def _register(name: str, text: str, doc: str):
    @query(name, oracle=text)
    def fn(spark: SparkSession, sf_dir: str, _text: str = text) -> DataFrame:
        return _sql(spark, sf_dir, _text)

    fn.__name__ = name
    fn.__doc__ = doc
    return fn


# --- Q3: shipping-priority revenue (3-way join, top-10 under total order) ----
_Q3 = """
SELECT l.l_orderkey,
       round(sum(l.l_extendedprice * (1 - l.l_discount)) + 1e-9, 4) AS revenue,
       o.o_orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < DATE '1998-01-01'
  AND l.l_shipdate > DATE '1998-01-01'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""

_register(
    "sql_q3_shipping_priority",
    _Q3,
    """TPC-H Q3: revenue of not-yet-shipped orders for one market segment.
    Plan shape at scale: the customer filter prunes before the orders
    join; both fact-side joins shuffle on the orderkey chain while the
    aggregation reuses the final join's partitioning. Top-10 is a
    TakeOrderedAndProject — no global sort materialized.""",
)


# --- Q4: order-priority check (correlated EXISTS over the fact) -------------
_Q4 = """
SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate < DATE '1996-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
  )
GROUP BY o.o_orderpriority
"""

_register(
    "sql_q4_order_priority",
    _Q4,
    """TPC-H Q4 shape (late = shipped >90 days after order date; the
    fixture has no commit/receipt dates): correlated EXISTS with an
    inequality on BOTH tables' columns. Decorrelates to a left-semi join
    on l_orderkey with the date comparison as a post-join predicate — one
    shuffle each side, never a per-order probe.""",
)


# --- Q5: local-supplier volume (6-way star + nation equality across dims) ---
_Q5 = """
SELECT n.n_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)) + 1e-9, 4) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate < DATE '1997-01-01'
GROUP BY n.n_name
"""

_register(
    "sql_q5_local_supplier_volume",
    _Q5,
    """TPC-H Q5: six-way join where the supplier join carries an EXTRA
    equality (c_nationkey = s_nationkey) linking two dimension paths.
    nation/region/supplier broadcast; the orderkey chain is the only
    shuffle. The region filter prunes nations before any fact work.""",
)


# --- Q6: forecast revenue (pure scan-side predicate, single scalar agg) -----
_Q6 = """
SELECT round(sum(l_extendedprice * l_discount) + 1e-9, 4) AS revenue
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""

_register(
    "sql_q6_forecast_revenue",
    _Q6,
    """TPC-H Q6: the pushdown benchmark. Every predicate reaches the
    parquet scan (PushedFilters on shipdate/discount/quantity), row
    groups outside the year skip entirely, and the single scalar agg is
    partial→final with a one-row exchange. At 100 TB this is an
    embarrassingly parallel scan whose cost is pure I/O.""",
)


# --- Q7: volume shipping between two nations (symmetric OR pair filter) -----
_Q7 = """
SELECT supp_nation, cust_nation, l_year,
       round(sum(volume) + 1e-9, 4) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INTEGER) AS l_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume
  FROM supplier s
  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l.l_shipdate >= DATE '1996-01-01' AND l.l_shipdate < DATE '1998-01-01'
) shipping
GROUP BY supp_nation, cust_nation, l_year
"""

_register(
    "sql_q7_volume_shipping",
    _Q7,
    """TPC-H Q7: bilateral trade volume. The symmetric OR over the two
    nation dims cannot prune either side alone, so the filter applies
    after both broadcast joins — but each nation join is a 25-row
    broadcast, so the disjunction costs nothing at scale. Year extraction
    groups the fact without a second shuffle (same agg keys).""",
)


# --- Q8: market share (conditional share-of-total inside one agg) -----------
_Q8 = """
SELECT o_year,
       round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
             / sum(volume) + 1e-9, 4) AS mkt_share
FROM (
  SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER) AS o_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume,
         n2.n_name AS nation
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
  JOIN region r ON n1.n_regionkey = r.r_regionkey
  JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
  WHERE r.r_name = 'EUROPE' AND p.p_type = 'PROMO'
) all_nations
GROUP BY o_year
"""

_register(
    "sql_q8_market_share",
    _Q8,
    """TPC-H Q8: one nation's share of a region's PROMO-part volume per
    year — the share-of-total computed as conditional-sum / sum in a
    SINGLE aggregation (no self-join against a totals subquery, which
    would scan the 7-way join twice). The p_type filter semi-prunes the
    fact through the part join before the wide join chain.""",
)


# --- Q9: product-type profit (5-way join, LIKE filter, nation×year rollup) --
_Q9 = """
SELECT nation, o_year, round(sum(amount) + 1e-9, 4) AS sum_profit
FROM (
  SELECT n.n_name AS nation,
         CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER) AS o_year,
         l.l_extendedprice * (1 - l.l_discount)
           - 0.5 * p.p_retailprice * l.l_quantity AS amount
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE p.p_name LIKE '%red%'
) profit
GROUP BY nation, o_year
"""

_register(
    "sql_q9_product_profit",
    _Q9,
    """TPC-H Q9 shape (cost modeled as 0.5·p_retailprice·l_quantity; the
    fixture has no partsupp/ps_supplycost): profit by supplier nation and
    order year for parts matching a LIKE pattern. The non-sargable LIKE
    still prunes via the part join's build side; supplier and nation
    broadcast; lineitem shuffles only on the orders join.""",
)


# --- Q10: returned-item reporting (top-20 customers by lost revenue) --------
_Q10 = """
SELECT c.c_custkey, c.c_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)) + 1e-9, 4) AS revenue,
       round(c.c_acctbal, 4) AS c_acctbal, n.n_name
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate < DATE '1996-04-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""

_register(
    "sql_q10_returned_items",
    _Q10,
    """TPC-H Q10: revenue lost to returns per customer in one quarter,
    top 20. The returnflag filter is scan-side on the fact; the order
    date range prunes the orders side before the join; grouping keys
    include all customer attributes so the agg follows the customer
    join's partitioning. Deterministic top-k via (revenue, custkey).""",
)


# --- Q12: shipping-delay pivot (CASE buckets × priority classes) ------------
_Q12 = """
SELECT delay_bucket,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_priority_lines,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_priority_lines
FROM (
  SELECT o.o_orderpriority,
         CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY THEN 'late'
              WHEN l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY THEN 'slow'
              ELSE 'fast' END AS delay_bucket
  FROM orders o
  JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate < DATE '1997-01-01'
) t
GROUP BY delay_bucket
"""

_register(
    "sql_q12_shipping_delay",
    _Q12,
    """TPC-H Q12 shape (delay buckets replace l_shipmode, which the
    fixture lacks): conditional-sum pivot of order priorities across
    shipping-delay classes. The bucket expression compares columns of
    both join sides, so it evaluates post-join inside the same codegen
    stage — three output rows from one fact shuffle.""",
)


# --- Q13: customer order-count distribution (outer join + double agg) -------
_Q13 = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c
  LEFT OUTER JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '5-LOW'
  GROUP BY c.c_custkey
) c_orders
GROUP BY c_count
"""

_register(
    "sql_q13_order_distribution",
    _Q13,
    """TPC-H Q13: histogram of per-customer order counts, zero-order
    customers included — the filter must live in the LEFT JOIN's ON
    clause (in WHERE it would silently drop the NULL-extended rows and
    become an inner join). Two aggregations: the first follows the
    join's custkey partitioning; the second shuffles only ~distinct-count
    rows.""",
)


# --- Q14: promo revenue share (conditional agg over one month) --------------
_Q14 = """
SELECT round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)) + 1e-9, 4)
         AS promo_revenue
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= DATE '1996-03-01' AND l.l_shipdate < DATE '1996-04-01'
"""

_register(
    "sql_q14_promo_revenue",
    _Q14,
    """TPC-H Q14: percentage of one month's revenue from PROMO parts.
    Share-of-total as a single conditional aggregate; the date range is
    scan-side on the fact, and part joins as a broadcast build.""",
)


# --- Q15: top supplier (CTE reuse + uncorrelated scalar max) ----------------
_Q15 = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum(l_extendedprice * (1 - l_discount)) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name,
       round(r.total_revenue + 1e-9, 4) AS total_revenue
FROM supplier s
JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
"""

_register(
    "sql_q15_top_supplier",
    _Q15,
    """TPC-H Q15: supplier(s) with the maximum quarterly revenue. The CTE
    is referenced twice (join input + scalar max); the max arrives as a
    one-row broadcast. The equality compares each engine's OWN unrounded
    aggregate against its own max — exact within an engine — and only
    the final projection rounds for cross-engine parity.""",
)


# --- Q16: supplier diversity per part attribute (distinct agg + multi-IN) ---
_Q16 = """
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM part p
JOIN lineitem l ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
GROUP BY p.p_brand, p.p_type, p.p_size
"""

_register(
    "sql_q16_supplier_diversity",
    _Q16,
    """TPC-H Q16 shape (supplier set observed via lineitem; the fixture
    has no partsupp): distinct suppliers per (brand, type, size) under
    negated + IN-list part filters. COUNT(DISTINCT) expands to a
    two-phase agg — dedup on (group keys, suppkey) first, then count —
    both phases on the same shuffle keys.""",
)


# --- Q18: large-volume orders (IN over a grouped HAVING subquery) -----------
_Q18 = """
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       round(o.o_totalprice, 4) AS o_totalprice,
       round(sum(l.l_quantity) + 1e-9, 4) AS total_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING sum(l_quantity) > 250
)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
"""

_register(
    "sql_q18_large_orders",
    _Q18,
    """TPC-H Q18: orders whose total quantity exceeds a threshold. The IN
    subquery aggregates the fact per orderkey, then semi-joins back — at
    scale both the subquery agg and the outer join shuffle on l_orderkey,
    so AQE coalesces them onto one exchange footprint. Deterministic
    top-20 via (totalprice, orderkey).""",
)


# --- Q19: OR-of-ANDs banded predicate (disjunction over one equi join) ------
_Q19 = """
SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)) + 1e-9, 4) AS revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 20)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
       AND l.l_quantity BETWEEN 10 AND 30)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
       AND l.l_quantity BETWEEN 20 AND 50)
"""

_register(
    "sql_q19_banded_revenue",
    _Q19,
    """TPC-H Q19 shape (brand/size/quantity bands; the fixture has no
    p_container): the classic OR-of-ANDs. The equi key lives OUTSIDE the
    disjunction so the join stays a hash join — the historical failure
    mode (key inside each disjunct → nested loop) can't happen; the
    residual OR evaluates post-probe in the same stage.""",
)


# --- Q22: dormant high-balance customers (NOT EXISTS + scalar avg) ----------
_Q22 = """
SELECT cntrycode, CAST(count(*) AS BIGINT) AS numcust,
       round(sum(c_acctbal) + 1e-9, 4) AS totacctbal
FROM (
  SELECT CAST(c.c_nationkey % 5 AS INTEGER) AS cntrycode, c.c_acctbal
  FROM customer c
  WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer
                       WHERE c_acctbal > 0.0)
    AND NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate >= DATE '1999-01-01'
    )
) custsale
GROUP BY cntrycode
"""

_register(
    "sql_q22_dormant_customers",
    _Q22,
    """TPC-H Q22 shape (cntrycode from c_nationkey, dormancy = no orders
    since 1999; the fixture has no c_phone and every customer has SOME
    order): above-average-balance customers with no recent orders. The
    scalar avg broadcasts as one row; the NOT EXISTS decorrelates to a
    left-anti join on custkey against the date-filtered orders — filter
    pushed below the anti join, never per-customer probes.""",
)


# --- Q1: pricing summary, literal SQL text ----------------------------------
_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity) + 1e-9, 4) AS sum_qty,
       round(sum(l_extendedprice) + 1e-9, 4) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)) + 1e-9, 4) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) + 1e-9, 4)
         AS sum_charge,
       round(avg(l_quantity) + 1e-9, 4) AS avg_qty,
       round(avg(l_extendedprice) + 1e-9, 4) AS avg_price,
       round(avg(l_discount) + 1e-9, 4) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '2001-09-01'
GROUP BY l_returnflag, l_linestatus
"""

_register(
    "sql_q1_pricing_summary",
    _Q1,
    """TPC-H Q1 as literal SQL text (the DataFrame form of this shape is
    flagship_pricing_summary — same Catalyst plan either way, which is
    the point of the dual surface): one fact scan, eight aggregates in a
    single partial→final hash agg, shipdate predicate pushed to the
    parquet footer.""",
)


# --- Q2/Q11: the partsupp pair, on a deterministic synthetic partsupp -------
#
# The fixtures ship no partsupp (the one relational table they lack).  Both classic shapes are closed by DERIVING partsupp inside the
# query from the tables that do ship, with the classic generator's structure:
# each part gets exactly 4 suppliers, spread cyclically over the live
# supplier count S (so the table SF-scales with the fixtures: 4×|part| rows
# against S=10/100/1000 at sf0.001/0.01/0.1), and cost/qty are exact-integer
# formulas of the key pair — no floats until the final single division, so
# the driver value-hash is bit-exact with zero rounding tricks.
#
# Distinctness of the 4 suppliers per part: stride = FLOOR(S/4)+1, offsets
# i*stride for i in 0..3 satisfy 0 < i*stride < S for every S >= 10, so the
# four residues (p + i*stride) % S never collide (pinned in
# test_harness.py::test_partsupp_cte_distinct_suppliers).
_PARTSUPP_CTE = """
scnt AS (SELECT count(*) AS n FROM supplier),
partsupp AS (
  SELECT keys.ps_partkey,
         keys.ps_suppkey,
         (keys.ps_partkey * 7 + keys.ps_suppkey * 11) % 9999 + 1 AS ps_availqty,
         (keys.ps_partkey * 31 + keys.ps_suppkey * 17) % 99900 + 100 AS ps_supplycost_cents
  FROM (
    SELECT p.p_partkey AS ps_partkey,
           (p.p_partkey + i.i * (CAST(FLOOR(s.n / 4) AS BIGINT) + 1)) % s.n AS ps_suppkey
    FROM part p
    CROSS JOIN (VALUES (0), (1), (2), (3)) AS i(i)
    CROSS JOIN scnt s
  ) AS keys
)"""

_Q2 = f"""WITH{_PARTSUPP_CTE}
SELECT s.s_acctbal,
       s.s_name,
       n.n_name,
       p.p_partkey,
       p.p_brand,
       ps.ps_supplycost_cents / 100.0 AS ps_supplycost
FROM partsupp ps
JOIN part p ON p.p_partkey = ps.ps_partkey
JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE p.p_size BETWEEN 10 AND 22
  AND p.p_type LIKE '%ARD'
  AND r.r_name = 'EUROPE'
  AND ps.ps_supplycost_cents = (
      SELECT min(ps2.ps_supplycost_cents)
      FROM partsupp ps2
      JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
      JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
      JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
      WHERE ps2.ps_partkey = p.p_partkey
        AND r2.r_name = 'EUROPE')
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""

_register(
    "sql_q2_min_cost_supplier",
    _Q2,
    """TPC-H Q2: minimum-cost supplier per qualifying part (p_brand stands
    in for the fixture-absent p_mfgr; size-band + suffix-LIKE keep the
    selective part filter; the suffix wildcard is deliberately
    non-sargable).  The correlated min-cost scalar subquery is THE Q2
    plan-shape challenge: both engines must decorrelate it into an
    aggregate + equi-join on ps_partkey rather than re-running the
    region-filtered chain per part (Spark's executedPlan shows 0
    CartesianProduct; the only BroadcastNestedLoop inputs are the one-row
    supplier count and the 4-row VALUES stride table — constant-size
    broadcast sides, pinned in test_plans.py).  ORDER BY carries a unique
    tie-break (s_name is per-supplier unique, then p_partkey), so LIMIT
    100 — which binds at sf0.1 (driver rows 4/36/100 at the three tiers)
    — is deterministic.

    Scale design: partsupp is generated, never materialized — 4×|part|
    rows whose only wide exchange is the ps_partkey agg+join of the
    decorrelation; dims broadcast.  At 100 TB the same text runs with
    partsupp as a real table and the plan is unchanged minus the
    generator.""",
)


_Q11 = f"""WITH{_PARTSUPP_CTE},
nation_ps AS (
  SELECT ps.ps_partkey,
         ps.ps_supplycost_cents * ps.ps_availqty AS v_cents
  FROM partsupp ps
  JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  WHERE n.n_name = 'NATION_18'
),
grouped AS (
  SELECT ps_partkey, CAST(sum(v_cents) AS BIGINT) AS part_cents
  FROM nation_ps
  GROUP BY ps_partkey
),
tot AS (
  SELECT CAST(sum(part_cents) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS g
  FROM grouped
)
SELECT gr.ps_partkey,
       gr.part_cents / 100.0 AS value
FROM grouped gr CROSS JOIN tot
WHERE gr.part_cents * tot.g * 10 > 13 * tot.t
ORDER BY value DESC, ps_partkey
"""

_register(
    "sql_q11_important_stock",
    _Q11,
    """TPC-H Q11: parts whose one-nation stock value exceeds a global
    threshold (NATION_18 has suppliers at every fixture tier).  The
    classic fixed 0.0001 fraction is meaningless against SF-scaling
    group counts, so the threshold is adapted to "> 1.3 x the average
    per-part value" — SF-stable selectivity (driver rows 28/131/914 at
    the three tiers) — and compared in EXACT integer cents
    (part_cents * g * 10 > 13 * t; |sum| < 2^60 through sf100), so no
    float threshold can flip a boundary row between engines.  The
    HAVING-over-global-aggregate shape survives: the grouped CTE is
    referenced by both the output and the (t, g) threshold (the classic
    Q11 double reference), and AQE collapses the duplicated ps_partkey
    agg exchange via ReusedExchange so the fact-side aggregation
    executes once, with (t, g) broadcast back as one row — both pinned
    in test_plans.py.""",
)
