"""Relational query surface (SURVEY.md §2.4 runbook + §2.5 declared set).

Most specs are dialect-portable ANSI SQL executed verbatim by both Spark
and the DuckDB oracle — the strongest form of differential testing.
DataFrame-API builds are used where the *operator* is the point (pivot,
broadcast hint, semi/anti join API) and for dialect-divergent functions.

Scale notes are embedded per query (what Catalyst does with it, and why
the shape survives 100 TB: pushdown, partial aggs, broadcastable dims).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .base import QuerySpec

SPECS: list[QuerySpec] = []


# ---------------------------------------------------------------------------
# Aggregations
# ---------------------------------------------------------------------------

SPECS.append(QuerySpec(
    name="q1_pricing_summary",
    doc="TPC-H Q1 shape: scan+filter+groupBy with 8 aggregates. Catalyst "
        "plans partial+final HashAggregate; the shipdate filter pushes to "
        "the parquet scan. At 100 TB the partial agg reduces shuffle to "
        "O(groups), not O(rows).",
    tags=("agg", "headline"),
    sql="""
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(SUM(l_quantity), 2) AS DOUBLE) AS sum_qty,
       CAST(ROUND(SUM(l_extendedprice), 2) AS DOUBLE) AS sum_base_price,
       CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE) AS sum_disc_price,
       CAST(ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS DOUBLE) AS sum_charge,
       CAST(ROUND(AVG(l_quantity), 4) AS DOUBLE) AS avg_qty,
       CAST(ROUND(AVG(l_extendedprice), 4) AS DOUBLE) AS avg_price,
       CAST(ROUND(AVG(l_discount), 4) AS DOUBLE) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST
""",
))

SPECS.append(QuerySpec(
    name="agg_global_stats",
    doc="Ungrouped aggregate (runbook Q3 generalized, README.md:456-460): "
        "count/count-distinct/sum/avg/stddev/var/min/max in one pass.",
    tags=("agg",),
    sql="""
SELECT COUNT(*) AS n,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps,
       CAST(ROUND(SUM(l_extendedprice), 2) AS DOUBLE) AS sum_price,
       CAST(ROUND(AVG(l_extendedprice), 4) AS DOUBLE) AS avg_price,
       CAST(ROUND(STDDEV_SAMP(l_extendedprice), 3) AS DOUBLE) AS sd_price,
       CAST(ROUND(VAR_SAMP(l_quantity), 4) AS DOUBLE) AS var_qty,
       CAST(ROUND(MIN(l_extendedprice), 2) AS DOUBLE) AS min_price,
       CAST(ROUND(MAX(l_extendedprice), 2) AS DOUBLE) AS max_price
FROM lineitem
""",
))

SPECS.append(QuerySpec(
    name="agg_filtered",
    doc="FILTER (WHERE ...) and CASE-guarded aggregates.",
    tags=("agg",),
    sql="""
SELECT l_returnflag,
       COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
       COUNT(*) FILTER (WHERE l_quantity >= 25) AS n_bulk,
       CAST(ROUND(SUM(CASE WHEN l_tax > 0.04 THEN l_extendedprice ELSE 0 END), 2) AS DOUBLE) AS taxed_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag NULLS LAST
""",
))

SPECS.append(QuerySpec(
    name="agg_rollup",
    doc="GROUP BY ROLLUP with GROUPING() disambiguation of the NULL rows.",
    tags=("agg",),
    sql="""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n,
       CAST(ROUND(SUM(l_quantity), 2) AS DOUBLE) AS qty,
       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
-- no-op on any non-empty input (every emitted group covers >= 1 row);
-- on an EMPTY relation it drops DuckDB's grand-total grouping-set row,
-- which Spark does not emit (round-13 degenerate sweep)
HAVING COUNT(*) > 0
ORDER BY g_flag, g_status, l_returnflag NULLS LAST, l_linestatus NULLS LAST
""",
))

SPECS.append(QuerySpec(
    name="agg_cube",
    doc="GROUP BY CUBE over two dimensions.",
    tags=("agg",),
    sql="""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n,
       CAST(ROUND(SUM(o_totalprice), 2) AS DOUBLE) AS total,
       CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_prio
FROM orders
GROUP BY CUBE(o_orderstatus, o_orderpriority)
HAVING COUNT(*) > 0  -- empty-relation alignment, see agg_rollup
ORDER BY g_status, g_prio, o_orderstatus NULLS LAST, o_orderpriority NULLS LAST
""",
))

SPECS.append(QuerySpec(
    name="agg_grouping_sets",
    doc="Explicit GROUPING SETS incl. grand total.",
    tags=("agg",),
    sql="""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
HAVING COUNT(*) > 0  -- empty-relation alignment, see agg_rollup
ORDER BY g_flag, g_status, l_returnflag NULLS LAST, l_linestatus NULLS LAST
""",
))

SPECS.append(QuerySpec(
    name="agg_distinct_rows",
    doc="DISTINCT projection feeding a count.",
    tags=("agg",),
    sql="""
SELECT COUNT(*) AS n
FROM (SELECT DISTINCT l_returnflag, l_linestatus, l_linenumber FROM lineitem) t
""",
))

# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------

SPECS.append(QuerySpec(
    name="q3_shipping_priority",
    doc="TPC-H Q3 shape: 3-way join + group + top-k. customer filter "
        "pushes below the join; top-k collapses to TakeOrderedAndProject.",
    tags=("join", "headline"),
    sql="""
SELECT o_orderkey,
       CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE) AS revenue,
       CAST(o_orderdate AS DATE) AS orderdate,
       o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC NULLS LAST, o_orderkey
LIMIT 10
""",
))

SPECS.append(QuerySpec(
    name="q5_region_revenue",
    doc="Flagship: 5-way star join lineitem⋈orders⋈customer⋈nation⋈region. "
        "nation(25)/region(5) broadcast; at 100 TB only the fact-side "
        "lineitem⋈orders shuffle survives, bounded by the date filter.",
    tags=("join", "headline", "flagship"),
    sql="""
SELECT n_name,
       CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC NULLS LAST, n_name
""",
))

SPECS.append(QuerySpec(
    name="join_left_outer_agg",
    doc="LEFT OUTER join preserving customers without orders; NULL-safe "
        "aggregation over the outer side.",
    tags=("join",),
    sql="""
SELECT c_custkey, c_name,
       COUNT(o_orderkey) AS n_orders,
       CAST(ROUND(COALESCE(SUM(o_totalprice), 0), 2) AS DOUBLE) AS total_spent
FROM customer
LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
ORDER BY n_orders DESC, c_custkey
LIMIT 25
""",
))

SPECS.append(QuerySpec(
    name="join_full_outer_months",
    doc="FULL OUTER join of two monthly aggregates (order vs ship months).",
    tags=("join",),
    sql="""
WITH om AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
         CAST(ROUND(SUM(o_totalprice), 2) AS DOUBLE) AS order_total
  FROM orders GROUP BY 1
), lm AS (
  SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS m,
         CAST(ROUND(SUM(l_extendedprice), 2) AS DOUBLE) AS ship_total
  FROM lineitem GROUP BY 1
)
SELECT COALESCE(om.m, lm.m) AS month, om.order_total, lm.ship_total
FROM om FULL OUTER JOIN lm ON om.m = lm.m
ORDER BY month NULLS LAST
""",
))

SPECS.append(QuerySpec(
    name="join_semi_exists",
    doc="Left-semi join (EXISTS). Spark side uses the DataFrame "
        "left_semi operator explicitly.",
    tags=("join",),
    build=lambda spark, sf: (
        spark.table("customer")
        .join(
            spark.table("orders").filter(
                F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp")
            ),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_semi",
        )
        .agg(
            F.count("*").alias("n_customers_early"),
            F.sum(F.col("c_custkey")).cast("bigint").alias("sum_keys"),
        )
    ),
    oracle="""
SELECT COUNT(*) AS n_customers_early,
       CAST(SUM(c_custkey) AS BIGINT) AS sum_keys
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderdate < TIMESTAMP '1996-01-01 00:00:00')
""",
))

SPECS.append(QuerySpec(
    name="join_anti_not_exists",
    doc="Left-anti join (NOT EXISTS) via the DataFrame API.",
    tags=("join",),
    build=lambda spark, sf: (
        spark.table("customer")
        .join(
            spark.table("orders").filter(
                F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp")
            ),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .agg(
            F.count("*").alias("n_customers_no_early"),
            F.sum(F.col("c_custkey")).cast("bigint").alias("sum_keys"),
        )
    ),
    oracle="""
SELECT COUNT(*) AS n_customers_no_early,
       CAST(SUM(c_custkey) AS BIGINT) AS sum_keys
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate < TIMESTAMP '1996-01-01 00:00:00')
""",
))

SPECS.append(QuerySpec(
    name="join_broadcast_dims",
    doc="Explicit broadcast() of the two dimension tables — the plan must "
        "show BroadcastHashJoin (asserted in tests). The fact side never "
        "shuffles for these joins at any scale.",
    tags=("join", "plan"),
    build=lambda spark, sf: (
        spark.table("lineitem")
        .join(F.broadcast(spark.table("supplier")), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(spark.table("part")), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("s_name", "p_brand")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 2).cast("double").alias("qty"),
        )
        .orderBy(F.col("s_name").asc_nulls_last(), F.col("p_brand").asc_nulls_last())
    ),
    oracle="""
SELECT s_name, p_brand, COUNT(*) AS n,
       CAST(ROUND(SUM(l_quantity), 2) AS DOUBLE) AS qty
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN part ON l_partkey = p_partkey
GROUP BY s_name, p_brand
ORDER BY s_name NULLS LAST, p_brand NULLS LAST
""",
))

SPECS.append(QuerySpec(
    name="join_range_bands",
    doc="Non-equi (theta/range) join against a tiny literal band table -> "
        "BroadcastNestedLoopJoin; the band side is always broadcast.",
    tags=("join",),
    sql="""
SELECT b.band, COUNT(*) AS n,
       CAST(ROUND(SUM(l.l_extendedprice), 2) AS DOUBLE) AS total
FROM lineitem l
JOIN (VALUES ('low', 0.0, 10.0), ('mid', 10.0, 30.0), ('high', 30.0, 60.0))
     AS b(band, lo, hi)
  ON l.l_quantity >= b.lo AND l.l_quantity < b.hi
GROUP BY b.band
ORDER BY b.band
""",
))

SPECS.append(QuerySpec(
    name="join_cross_grid",
    doc="CROSS JOIN of two tiny relations (explicit cartesian).",
    tags=("join",),
    sql="""
SELECT r_name, s.seg, s.n
FROM region
CROSS JOIN (SELECT c_mktsegment AS seg, COUNT(*) AS n FROM customer GROUP BY 1) s
ORDER BY r_name, s.seg
""",
))

SPECS.append(QuerySpec(
    name="q6_forecast_revenue",
    doc="TPC-H Q6 shape: pure scan + conjunctive predicate + single agg "
        "— everything pushes to the parquet scan.",
    tags=("agg", "headline"),
    sql="""
SELECT CAST(ROUND(SUM(l_extendedprice * l_discount), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
))

SPECS.append(QuerySpec(
    name="q10_returned_items",
    doc="TPC-H Q10 shape: 4-way join + group + top-k revenue of "
        "returned items.",
    tags=("join",),
    sql="""
SELECT c_custkey, c_name,
       CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE) AS revenue,
       n_name
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
))

SPECS.append(QuerySpec(
    name="q12_shipmode_priority",
    doc="TPC-H Q12 shape: join + CASE-bucketed counts per group.",
    tags=("join", "agg"),
    sql="""
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_linestatus
ORDER BY l_linestatus
""",
))

SPECS.append(QuerySpec(
    name="q14_promo_share",
    doc="TPC-H Q14 shape: conditional-aggregate ratio (promo revenue %).",
    tags=("join", "agg"),
    sql="""
SELECT CAST(ROUND(
         100.0 * SUM(CASE WHEN p_type = 'PROMO'
                          THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
         / SUM(l_extendedprice * (1 - l_discount)), 4) AS DOUBLE) AS promo_share
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-06-01 00:00:00'
""",
))

SPECS.append(QuerySpec(
    name="q19_disjunctive_predicates",
    doc="TPC-H Q19 shape: OR-of-ANDs join predicates (tests predicate "
        "normalization + partial pushdown).",
    tags=("join",),
    sql="""
SELECT CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 5 AND l_quantity <= 35)
   OR (p_brand = 'Brand#19' AND p_size BETWEEN 10 AND 30 AND l_quantity >= 10 AND l_quantity <= 40)
   OR (p_type = 'ECONOMY' AND p_size BETWEEN 5 AND 25 AND l_quantity >= 15 AND l_quantity <= 45)
""",
))

SPECS.append(QuerySpec(
    name="q4_priority_exists",
    doc="TPC-H Q4 shape: date-windowed count per priority gated by a "
        "correlated EXISTS — planned as a left-semi join that never "
        "materializes the lineitem side.",
    tags=("join", "subquery"),
    sql="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
))

SPECS.append(QuerySpec(
    name="q13_customer_distribution",
    doc="TPC-H Q13 shape: outer-join fan-out histogram — LEFT JOIN with "
        "an extra join-side predicate, COUNT over the nullable side, "
        "then a second aggregation over the first's result.",
    tags=("join", "agg"),
    sql="""
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderstatus <> 'F'
  GROUP BY c_custkey
) t
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
))

SPECS.append(QuerySpec(
    name="q7_nation_pair_revenue",
    doc="TPC-H Q7 shape: cross-border revenue — the nation dimension "
        "joins TWICE (supplier side and customer side) with an "
        "asymmetric pair filter, grouped by both nations and ship year.",
    tags=("join", "agg"),
    sql="""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       YEAR(l_shipdate) AS l_year,
       CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
WHERE n1.n_name IN ('NATION_1', 'NATION_2')
  AND n2.n_name IN ('NATION_1', 'NATION_2')
  AND n1.n_name <> n2.n_name
GROUP BY n1.n_name, n2.n_name, YEAR(l_shipdate)
ORDER BY supp_nation, cust_nation, l_year
""",
))

SPECS.append(QuerySpec(
    name="q8_market_share",
    doc="TPC-H Q8 shape: market share — a conditional-aggregate ratio "
        "(share = revenue from one nation / total) over a 6-way star "
        "spanning both nation roles, region, and part filter.",
    tags=("join", "agg"),
    sql="""
SELECT o_year,
       CAST(ROUND(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
                  / SUM(volume), 6) AS DOUBLE) AS mkt_share,
       COUNT(*) AS n
FROM (
  SELECT YEAR(o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON n1.n_nationkey = c_nationkey
  JOIN region ON r_regionkey = n1.n_regionkey
  JOIN nation n2 ON n2.n_nationkey = s_nationkey
  WHERE r_name = 'ASIA' AND p_size <= 10
) shares
GROUP BY o_year
ORDER BY o_year
""",
))

SPECS.append(QuerySpec(
    name="q15_top_supplier_revenue",
    doc="TPC-H Q15 shape: quarterly revenue per supplier (the view), "
        "top suppliers joined back for names — rank on rounded revenue "
        "with suppkey tie-break so FP summation noise cannot reorder.",
    tags=("join", "agg"),
    sql="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
),
ranked AS (
  SELECT supplier_no, total_revenue,
         ROW_NUMBER() OVER (ORDER BY total_revenue DESC, supplier_no) AS rn
  FROM revenue
)
SELECT s_suppkey, s_name, total_revenue, CAST(rn AS BIGINT) AS rn
FROM ranked JOIN supplier ON s_suppkey = supplier_no
WHERE rn <= 3
ORDER BY rn
""",
))

SPECS.append(QuerySpec(
    name="q17_small_quantity_revenue",
    doc="TPC-H Q17 shape: per-part correlated average threshold "
        "(brand/size-filtered parts whose line quantity is under 50% of "
        "that part's average) — plans as an aggregate-then-join, not a "
        "per-row subquery; avg of integral quantities is exact, so the "
        "threshold is deterministic.",
    tags=("join", "subquery", "agg"),
    sql="""
SELECT CAST(ROUND(SUM(l_extendedprice) / 7.0, 2) AS DOUBLE) AS avg_yearly,
       COUNT(*) AS n
FROM lineitem l
JOIN part p ON p_partkey = l_partkey
WHERE p_size <= 5
  AND l_quantity < (
    SELECT 0.5 * AVG(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
  )
""",
))

SPECS.append(QuerySpec(
    name="q18_large_volume_orders",
    doc="TPC-H Q18 shape: IN over a grouped-HAVING subquery (big-order "
        "keys), then a 3-way join re-aggregated per order and top-k by "
        "price.",
    tags=("join", "subquery"),
    sql="""
SELECT c_name, c_custkey, o_orderkey,
       CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS o_totalprice,
       CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING SUM(l_quantity) > 250
)
GROUP BY c_name, c_custkey, o_orderkey, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
""",
))

SPECS.append(QuerySpec(
    name="q22_dormant_customers",
    doc="TPC-H Q22 shape: scalar-subquery threshold + NOT EXISTS "
        "anti-join (above-average balances with no recent orders), "
        "grouped per nation.",
    tags=("join", "subquery"),
    sql="""
SELECT n_name, COUNT(*) AS numcust,
       CAST(ROUND(SUM(c_acctbal), 2) AS DOUBLE) AS totacctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY n_name
ORDER BY n_name
""",
))

# ---------------------------------------------------------------------------
# Subqueries
# ---------------------------------------------------------------------------

SPECS.append(QuerySpec(
    name="subq_scalar_threshold",
    doc="Scalar subquery threshold (1.5x average order price).",
    tags=("subquery",),
    sql="""
SELECT o_orderkey, CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS price
FROM orders
WHERE o_totalprice > (SELECT AVG(o_totalprice) * 1.5 FROM orders)
ORDER BY price DESC, o_orderkey
LIMIT 20
""",
))

SPECS.append(QuerySpec(
    name="subq_in_list",
    doc="IN-subquery semi join.",
    tags=("subquery",),
    sql="""
SELECT COUNT(*) AS n,
       CAST(ROUND(SUM(l_extendedprice), 2) AS DOUBLE) AS total
FROM lineitem
WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
""",
))

SPECS.append(QuerySpec(
    name="subq_correlated_avg",
    doc="Correlated scalar subquery: lineitems above their part's average "
        "price (Catalyst decorrelates to a join).",
    tags=("subquery",),
    sql="""
SELECT COUNT(*) AS n_above_avg
FROM lineitem l1
WHERE l_extendedprice > (SELECT AVG(l_extendedprice) * 1.2
                         FROM lineitem l2
                         WHERE l2.l_partkey = l1.l_partkey)
""",
))

# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------

SPECS.append(QuerySpec(
    name="window_topk_per_group",
    doc="Top-3 parts by revenue per brand via ROW_NUMBER. Ranking is on "
        "the ROUNDED value + key tiebreak so FP noise cannot reorder "
        "across engines.",
    tags=("window", "headline"),
    sql="""
SELECT p_brand, p_partkey, rev, CAST(rn AS BIGINT) AS rn
FROM (
  SELECT p_brand, p_partkey,
         CAST(ROUND(SUM(l_extendedprice), 2) AS DOUBLE) AS rev,
         ROW_NUMBER() OVER (PARTITION BY p_brand
                            ORDER BY ROUND(SUM(l_extendedprice), 2) DESC, p_partkey) AS rn
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand, p_partkey
) t
WHERE rn <= 3
ORDER BY p_brand, rn
""",
))

SPECS.append(QuerySpec(
    name="window_running_lag_rank",
    doc="Running sum, LAG, RANK, NTILE over per-customer order history.",
    tags=("window",),
    sql="""
SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS od,
       CAST(ROUND(SUM(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate NULLS FIRST, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running_total,
       CAST(ROUND(COALESCE(LAG(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate NULLS FIRST, o_orderkey), 0), 2) AS DOUBLE) AS prev_price,
       CAST(RANK() OVER (
         PARTITION BY o_custkey ORDER BY ROUND(o_totalprice, 2) DESC) AS BIGINT) AS price_rank,
       CAST(NTILE(4) OVER (
         PARTITION BY o_custkey ORDER BY ROUND(o_totalprice, 2) DESC, o_orderkey) AS BIGINT) AS quartile
FROM orders
ORDER BY o_custkey, od, o_orderkey
LIMIT 200
""",
))

SPECS.append(QuerySpec(
    name="window_moving_avg",
    doc="Moving average over a 7-row frame + FIRST/LAST_VALUE.",
    tags=("window",),
    sql="""
SELECT event_id, user_id,
       -- ts NULLS FIRST explicit: the window key is nullable in
       -- principle and Spark defaults ASC NULLS FIRST while DuckDB
       -- defaults NULLS LAST — identical SQL, different frames
       -- (round-12-continuation NULL-events sweep)
       CAST(ROUND(AVG(value) OVER (
         PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS DOUBLE) AS mov_avg,
       CAST(ROUND(FIRST_VALUE(value) OVER (
         PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id), 2) AS DOUBLE) AS first_val,
       CAST(ROUND(LAST_VALUE(value) OVER (
         PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2) AS DOUBLE) AS last_val
FROM events
ORDER BY user_id, event_id
LIMIT 300
""",
))

SPECS.append(QuerySpec(
    name="window_percent_dense",
    doc="PERCENT_RANK + DENSE_RANK on rounded values.",
    tags=("window",),
    sql="""
SELECT p_partkey,
       CAST(ROUND(PERCENT_RANK() OVER (ORDER BY ROUND(p_retailprice, 2), p_partkey), 6) AS DOUBLE) AS pr,
       CAST(DENSE_RANK() OVER (ORDER BY p_size) AS BIGINT) AS dr
FROM part
ORDER BY p_partkey
LIMIT 100
""",
))

# ---------------------------------------------------------------------------
# Sort / limit / set ops
# ---------------------------------------------------------------------------

SPECS.append(QuerySpec(
    name="sort_topk_global",
    doc="Global ORDER BY ... LIMIT — Catalyst collapses to "
        "TakeOrderedAndProject (no full sort at scale).",
    tags=("sort",),
    sql="""
SELECT l_orderkey, l_linenumber, CAST(ROUND(l_extendedprice, 2) AS DOUBLE) AS price
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
LIMIT 50
""",
))

SPECS.append(QuerySpec(
    name="setops_union_intersect_except",
    doc="UNION ALL / UNION / INTERSECT / EXCEPT cardinalities.",
    tags=("setop",),
    sql="""
WITH a AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'),
     b AS (SELECT o_custkey AS k FROM orders WHERE o_totalprice > 100000)
SELECT 'union_all' AS op, COUNT(*) AS n FROM (SELECT k FROM a UNION ALL SELECT k FROM b) t
UNION ALL
SELECT 'union_distinct' AS op, COUNT(*) AS n FROM (SELECT k FROM a UNION SELECT k FROM b) t
UNION ALL
SELECT 'intersect' AS op, COUNT(*) AS n FROM (SELECT k FROM a INTERSECT SELECT k FROM b) t
UNION ALL
SELECT 'except' AS op, COUNT(*) AS n FROM (SELECT k FROM a EXCEPT SELECT k FROM b) t
ORDER BY op
""",
))

# ---------------------------------------------------------------------------
# Scalar function families
# ---------------------------------------------------------------------------

SPECS.append(QuerySpec(
    name="scalar_string_funcs",
    doc="String function family over part (all whole-stage-codegen'd).",
    tags=("scalar",),
    sql="""
SELECT p_partkey,
       UPPER(p_name) AS up,
       LOWER(p_brand) AS lo,
       SUBSTRING(p_name, 1, 5) AS sub5,
       CAST(LENGTH(p_name) AS BIGINT) AS len,
       CONCAT(p_brand, ':', p_type) AS cat,
       REPLACE(p_type, ' ', '_') AS repl,
       TRIM(CONCAT(' ', p_name, ' ')) AS trm,
       LPAD(CONCAT('', p_size), 5, '0') AS pad,
       CASE WHEN p_name LIKE '%a%' THEN 1 ELSE 0 END AS has_a,
       CAST(INSTR(p_name, 'e') AS BIGINT) AS pos_e
FROM part
ORDER BY p_partkey
LIMIT 100
""",
))

SPECS.append(QuerySpec(
    name="scalar_date_funcs",
    doc="Date/time extraction and truncation over orders.",
    tags=("scalar",),
    sql="""
SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
       CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS mo,
       COUNT(*) AS n,
       CAST(MIN(CAST(o_orderdate AS DATE)) AS DATE) AS first_day,
       CAST(MAX(CAST(date_trunc('week', o_orderdate) AS DATE)) AS DATE) AS last_week_start
FROM orders
GROUP BY 1, 2
ORDER BY yr, mo
""",
))

SPECS.append(QuerySpec(
    name="scalar_math_funcs",
    doc="Math function family with pinned integer/double semantics.",
    tags=("scalar",),
    sql="""
SELECT l_linenumber,
       CAST(ROUND(SUM(ABS(l_extendedprice - 30000)), 2) AS DOUBLE) AS s_abs,
       CAST(ROUND(SUM(SQRT(l_quantity)), 4) AS DOUBLE) AS s_sqrt,
       CAST(ROUND(SUM(LN(l_extendedprice)), 4) AS DOUBLE) AS s_ln,
       CAST(ROUND(SUM(LOG10(l_extendedprice)), 4) AS DOUBLE) AS s_log10,
       CAST(ROUND(SUM(POWER(l_discount, 2)), 6) AS DOUBLE) AS s_pow,
       CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS s_floor,
       CAST(SUM(CAST(CEIL(l_tax * 100) AS BIGINT)) AS BIGINT) AS s_ceil,
       CAST(SUM(SIGN(l_discount - 0.05)) AS DOUBLE) AS s_sign,
       CAST(SUM(CAST(l_partkey % 7 AS BIGINT)) AS BIGINT) AS s_mod
FROM lineitem
GROUP BY l_linenumber
ORDER BY l_linenumber
""",
))

SPECS.append(QuerySpec(
    name="scalar_conditional_funcs",
    doc="CASE/COALESCE/NULLIF/GREATEST/LEAST family.",
    tags=("scalar",),
    sql="""
SELECT c_mktsegment,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative,
       CAST(ROUND(SUM(COALESCE(NULLIF(c_acctbal, 0.0), 0.0)), 2) AS DOUBLE) AS bal,
       CAST(ROUND(SUM(GREATEST(c_acctbal, 0.0)), 2) AS DOUBLE) AS pos_bal,
       CAST(ROUND(SUM(LEAST(c_acctbal, 0.0)), 2) AS DOUBLE) AS neg_bal
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
))

SPECS.append(QuerySpec(
    name="scalar_regex_funcs",
    doc="regexp_extract / regexp_replace / rlike with patterns identical "
        "under Java and RE2 regex semantics.",
    tags=("scalar",),
    build=lambda spark, sf: (
        spark.table("part")
        .select(
            "p_partkey",
            F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
            F.regexp_replace("p_type", "[AEIOU]", "_").alias("devowel"),
            F.col("p_name").rlike("^[a-z]+ ").cast("integer").alias("starts_word"),
        )
        .orderBy("p_partkey")
        .limit(100)
    ),
    oracle="""
SELECT p_partkey,
       COALESCE(regexp_extract(p_name, '([a-z]+)', 1), '') AS first_word,
       regexp_replace(p_type, '[AEIOU]', '_', 'g') AS devowel,
       CAST(regexp_matches(p_name, '^[a-z]+ ') AS INTEGER) AS starts_word
FROM part
ORDER BY p_partkey
LIMIT 100
""",
))

# ---------------------------------------------------------------------------
# Array / map / JSON
# ---------------------------------------------------------------------------

SPECS.append(QuerySpec(
    name="array_funcs_tokens",
    doc="Array construction + size/sort/element access via tokenized text.",
    tags=("array",),
    build=lambda spark, sf: (
        spark.table("documents")
        .select(
            "doc_id",
            F.split(F.col("text"), " ").alias("toks"),
        )
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("n_toks"),
            F.size(F.array_distinct("toks")).cast("long").alias("n_uniq"),
            F.element_at("toks", 1).alias("first_tok"),
            F.element_at(F.sort_array("toks"), 1).alias("min_tok"),
            F.element_at(F.sort_array("toks"), -1).alias("max_tok"),
            F.array_contains("toks", "spark").cast("integer").alias("has_spark"),
        )
        .orderBy("doc_id")
        .limit(200)
    ),
    oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_toks,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
       toks[1] AS first_tok,
       list_sort(toks)[1] AS min_tok,
       list_sort(toks)[-1] AS max_tok,
       CAST(list_contains(toks, 'spark') AS INTEGER) AS has_spark
FROM t
ORDER BY doc_id
LIMIT 200
""",
))

SPECS.append(QuerySpec(
    name="higher_order_array_funcs",
    doc="Higher-order transform/filter/aggregate over embedding vectors — "
        "all JVM-side, no UDF.",
    tags=("array",),
    build=lambda spark, sf: (
        spark.table("embeddings")
        .select(
            "vec_id",
            F.round(
                F.aggregate(
                    F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ).cast("double").alias("sq_norm"),
            F.size(F.filter("embedding", lambda x: x > 0)).cast("long").alias("n_pos"),
            F.round(
                F.aggregate(
                    F.transform("embedding", lambda x: x.cast("double")),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ).cast("double").alias("comp_sum"),
        )
        .orderBy("vec_id")
    ),
    oracle="""
WITH u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings)
SELECT vec_id,
       CAST(ROUND(SUM(x * x), 6) AS DOUBLE) AS sq_norm,
       CAST(COUNT(*) FILTER (WHERE x > 0) AS BIGINT) AS n_pos,
       CAST(ROUND(SUM(x), 6) AS DOUBLE) AS comp_sum
FROM u
GROUP BY vec_id
ORDER BY vec_id
""",
))

SPECS.append(QuerySpec(
    name="json_extract_props",
    doc="JSON extraction from the events.props string column "
        "(get_json_object ≡ json_extract_string).",
    tags=("json",),
    build=lambda spark, sf: (
        spark.table("events")
        .select(
            "event_type",
            F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").cast("bigint").alias("min_k"),
            F.max("k").cast("bigint").alias("max_k"),
        )
        .orderBy("event_type")
    ),
    oracle="""
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
""",
))

SPECS.append(QuerySpec(
    name="map_from_json_props",
    doc="from_json -> MapType -> map_keys/element_at (declared map surface).",
    tags=("json", "map"),
    build=lambda spark, sf: (
        spark.table("events")
        .select(
            "event_id",
            F.from_json("props", "map<string,string>").alias("m"),
        )
        .select(
            "event_id",
            F.size(F.map_keys("m")).cast("long").alias("n_keys"),
            F.element_at("m", "k").cast("bigint").alias("k_val"),
        )
        .orderBy("event_id")
        .limit(200)
    ),
    oracle="""
SELECT event_id,
       CAST(1 AS BIGINT) AS n_keys,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
FROM events
ORDER BY event_id
LIMIT 200
""",
))

# ---------------------------------------------------------------------------
# Pivot / sessionize / time-bucketed
# ---------------------------------------------------------------------------

SPECS.append(QuerySpec(
    name="pivot_status_by_flag",
    doc="DataFrame pivot (quantity by linestatus per returnflag).",
    tags=("pivot",),
    build=lambda spark, sf: (
        spark.table("lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum("l_quantity"), 2).cast("double"))
        .orderBy("l_returnflag")
    ),
    oracle="""
SELECT l_returnflag,
       CAST(ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS DOUBLE) AS "F",
       CAST(ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS DOUBLE) AS "O"
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
))

SPECS.append(QuerySpec(
    name="events_hourly_windows",
    doc="Tumbling 1-hour windows over the event stream (batch shape of "
        "the streaming windowed agg) using Spark's window() operator.",
    tags=("events", "window_time"),
    build=lambda spark, sf: (
        spark.table("events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).cast("double").alias("total"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "n",
            "total",
        )
        .orderBy("win_start", "event_type")
    ),
    oracle="""
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start,
       event_type, COUNT(*) AS n,
       CAST(ROUND(SUM(value), 2) AS DOUBLE) AS total
-- ts IS NOT NULL pins the engine behavior: Spark's window() DROPS
-- NULL-ts rows while a bare GROUP BY date_trunc keeps a NULL bucket
-- (round-12-continuation NULL-events sweep)
FROM events
WHERE ts IS NOT NULL
GROUP BY 1, 2
ORDER BY win_start, event_type
""",
))


def _sessionize_sql(epoch_us_fn: str) -> str:
    """Gap-based sessionization (30 min) — identical plan in both
    dialects modulo the epoch-µs function name."""
    return f"""
WITH e AS (
  -- sessions need a timestamp: the engines disagree on where a NULL t
  -- sorts in the lag/cumsum windows (round-12-continuation sweep)
  SELECT user_id, event_id, {epoch_us_fn} AS t FROM events
  WHERE ts IS NOT NULL
), g AS (
  SELECT user_id, event_id, t,
         CASE WHEN t - LAG(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
                   > 1800000000
              OR LAG(t) OVER (PARTITION BY user_id ORDER BY t, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM e
), s AS (
  SELECT user_id, event_id, t,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
)
SELECT user_id, CAST(sid AS BIGINT) AS session_id,
       COUNT(*) AS n_events,
       -- FLOOR before CAST: DuckDB's double->int cast rounds, Spark's truncates
       CAST(FLOOR((MAX(t) - MIN(t)) / 1000000.0) AS BIGINT) AS dur_s
FROM s
GROUP BY user_id, sid
ORDER BY user_id, session_id
"""


SPECS.append(QuerySpec(
    name="events_sessionize_gap",
    doc="Sessionization via lag + cumulative-sum windows (30-min gap) — "
        "the batch shape of streaming session_window.",
    tags=("events", "session"),
    # NB: DuckDB's ns->µs CAST rounds; Spark-side ingestion truncates.
    # epoch_ns // 1000 reproduces the truncation exactly.
    sql=_sessionize_sql("unix_micros(ts)"),
    oracle=_sessionize_sql("(epoch_ns(ts) // 1000)"),
))


# ---------------------------------------------------------------------------
# Ordered-collection aggregates / arg-extremes / set-op ALL variants
# ---------------------------------------------------------------------------

SPECS.append(QuerySpec(
    name="agg_collect_sorted",
    doc="collect_list canonicalized by sort_array (deterministic form of "
        "the orderless collect). Arrays are serialized with array_join so "
        "the result schema is flat strings: external harness canonicalizers "
        "hash result columns through pandas, and array-typed cells are "
        "unhashable there (round-1 red row).",
    tags=("agg",),
    build=lambda spark, sf: (
        spark.table("orders")
        .groupBy("o_custkey")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("o_orderstatus")), ","
            ).alias("statuses"),
            F.array_join(
                F.sort_array(F.collect_set("o_orderpriority")), ","
            ).alias("prios"),
        )
        .orderBy("o_custkey")
        .limit(100)
    ),
    oracle="""
SELECT o_custkey,
       array_to_string(list_sort(list(o_orderstatus)), ',') AS statuses,
       array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS prios
FROM orders
GROUP BY o_custkey
ORDER BY o_custkey
LIMIT 100
""",
))

SPECS.append(QuerySpec(
    name="agg_min_max_by",
    doc="max_by/min_by (arg-extremes) with struct tiebreak for full "
        "determinism.",
    tags=("agg",),
    build=lambda spark, sf: (
        spark.table("orders")
        .groupBy("o_orderpriority")
        .agg(
            F.expr("max_by(o_orderkey, struct(o_totalprice, o_orderkey))")
            .cast("bigint").alias("priciest_order"),
            F.expr("min_by(o_orderkey, struct(o_totalprice, o_orderkey))")
            .cast("bigint").alias("cheapest_order"),
        )
        .orderBy("o_orderpriority")
    ),
    oracle="""
WITH r AS (
  SELECT o_orderpriority, o_orderkey,
         -- explicit NULL placement matching Spark's struct ordering
         -- (NULL field sorts SMALLEST): a NULL price is the min_by
         -- winner and never the max_by winner unless alone
         -- (round-12-continuation NULL-orders sweep)
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC NULLS LAST, o_orderkey DESC) AS rn_hi,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice ASC NULLS FIRST, o_orderkey ASC) AS rn_lo
  FROM orders
)
SELECT o_orderpriority,
       CAST(MAX(CASE WHEN rn_hi = 1 THEN o_orderkey END) AS BIGINT) AS priciest_order,
       CAST(MAX(CASE WHEN rn_lo = 1 THEN o_orderkey END) AS BIGINT) AS cheapest_order
FROM r
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
))

SPECS.append(QuerySpec(
    name="setops_all_variants",
    doc="INTERSECT ALL / EXCEPT ALL (multiset semantics).",
    tags=("setop",),
    build=lambda spark, sf: (
        spark.table("orders").select("o_custkey").filter("o_orderstatus = 'F'")
        .intersectAll(
            spark.table("orders").select("o_custkey").filter("o_totalprice > 100000")
        )
        .agg(F.count("*").alias("n_intersect_all"))
        .crossJoin(
            spark.table("orders").select("o_custkey").filter("o_orderstatus = 'F'")
            .exceptAll(
                spark.table("orders").select("o_custkey").filter("o_totalprice > 100000")
            )
            .agg(F.count("*").alias("n_except_all"))
        )
    ),
    oracle="""
SELECT
  (SELECT COUNT(*) FROM (
     SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
     INTERSECT ALL
     SELECT o_custkey FROM orders WHERE o_totalprice > 100000) t) AS n_intersect_all,
  (SELECT COUNT(*) FROM (
     SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
     EXCEPT ALL
     SELECT o_custkey FROM orders WHERE o_totalprice > 100000) t) AS n_except_all
""",
))

SPECS.append(QuerySpec(
    name="unpivot_stack",
    doc="Unpivot via stack() — long-form attribute/value pairs.",
    tags=("pivot",),
    build=lambda spark, sf: (
        spark.table("part")
        .selectExpr(
            "p_partkey",
            "stack(2, 'size', CAST(p_size AS DOUBLE), 'price', p_retailprice)"
            " AS (attr, val)",
        )
        .orderBy("p_partkey", "attr")
        .limit(200)
    ),
    oracle="""
SELECT p_partkey, attr, val FROM (
  SELECT p_partkey, 'size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
  UNION ALL
  SELECT p_partkey, 'price' AS attr, p_retailprice AS val FROM part
) t
ORDER BY p_partkey, attr
LIMIT 200
""",
))

SPECS.append(QuerySpec(
    name="join_right_outer",
    doc="RIGHT OUTER join (all orders kept, even without a matching "
        "filtered customer).",
    tags=("join",),
    sql="""
SELECT o_orderkey, c_name,
       CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS price
FROM (SELECT * FROM customer WHERE c_acctbal > 0) c
RIGHT JOIN orders ON c_custkey = o_custkey
ORDER BY o_orderkey
LIMIT 100
""",
))

SPECS.append(QuerySpec(
    name="window_lead_range_frame",
    doc="LEAD + RANGE BETWEEN frame (value-based window) + MIN/MAX OVER.",
    tags=("window",),
    sql="""
SELECT o_custkey, o_orderkey,
       CAST(ROUND(COALESCE(LEAD(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate NULLS FIRST, o_orderkey), -1), 2) AS DOUBLE) AS next_price,
       COUNT(*) OVER (
         PARTITION BY o_custkey ORDER BY o_totalprice NULLS FIRST
         RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS n_within_10k,
       CAST(ROUND(MIN(o_totalprice) OVER (PARTITION BY o_custkey), 2) AS DOUBLE) AS min_price,
       CAST(ROUND(MAX(o_totalprice) OVER (PARTITION BY o_custkey), 2) AS DOUBLE) AS max_price
FROM orders
ORDER BY o_custkey, o_orderkey
LIMIT 300
""",
))

SPECS.append(QuerySpec(
    name="scalar_date_arith",
    doc="Date arithmetic: datediff, date_add, epoch seconds, "
        "from-epoch reconstruction (per-engine function names).",
    tags=("scalar",),
    build=lambda spark, sf: (
        spark.table("orders")
        .select(
            "o_orderkey",
            F.datediff(F.lit("1998-12-31").cast("date"), F.col("o_orderdate").cast("date"))
            .cast("bigint").alias("days_to_eoy"),
            F.date_add(F.col("o_orderdate").cast("date"), 30).alias("plus_30d"),
            F.unix_timestamp(F.col("o_orderdate").cast("timestamp")).alias("epoch_s"),
            F.from_unixtime(
                F.unix_timestamp(F.col("o_orderdate").cast("timestamp")), "yyyy-MM-dd"
            ).alias("roundtrip_day"),
        )
        .orderBy("o_orderkey")
        .limit(200)
    ),
    oracle="""
SELECT o_orderkey,
       CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS BIGINT) AS days_to_eoy,
       CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS plus_30d,
       CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
       strftime(o_orderdate, '%Y-%m-%d') AS roundtrip_day
FROM orders
ORDER BY o_orderkey
LIMIT 200
""",
))

SPECS.append(QuerySpec(
    name="array_posexplode_map_values",
    doc="posexplode + map_values/map_keys over parsed JSON props.",
    tags=("array", "map"),
    build=lambda spark, sf: (
        spark.table("documents")
        .select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok"))
        .filter(F.col("pos") < 3)
        .groupBy("pos")
        .agg(
            F.count("*").alias("n"),
            F.min("tok").alias("min_tok"),
            F.max("tok").alias("max_tok"),
        )
        .orderBy("pos")
    ),
    oracle="""
WITH toks AS (
  -- parallel unnest zips the token list with its index list
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS tok,
         unnest(generate_series(1, len(string_split(text, ' ')))) - 1 AS pos
  FROM documents
)
SELECT pos, COUNT(*) AS n, MIN(tok) AS min_tok, MAX(tok) AS max_tok
FROM toks WHERE pos < 3
GROUP BY pos ORDER BY pos
""",
))

SPECS.append(QuerySpec(
    name="json_tuple_schema_of",
    doc="json_tuple extraction + schema_of_json introspection (the rest "
        "of the declared JSON family).",
    tags=("json",),
    build=lambda spark, sf: (
        spark.table("events")
        .selectExpr("event_id", "json_tuple(props, 'k') AS k")
        .withColumn("k", F.col("k").cast("bigint"))
        .withColumn(
            "schema_str",
            F.schema_of_json(F.lit('{"k": 87}')),
        )
        .orderBy("event_id")
        .limit(200)
    ),
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       'STRUCT<k: BIGINT>' AS schema_str
FROM events
ORDER BY event_id
LIMIT 200
""",
))

SPECS.append(QuerySpec(
    name="agg_correlation",
    doc="Bivariate aggregates: Pearson correlation / covar_samp / "
        "covar_pop per group. Correlation is the explicit "
        "covar_pop/(stddev_pop*stddev_pop) identity with a NULLIF "
        "denominator guard rather than CORR(): Spark 4 under ANSI "
        "throws DIVIDE_BY_ZERO from CORR's final division when a "
        "group's variance is exactly 0 (a constant column — ONE such "
        "group aborts the whole job; DuckDB returns NULL). The "
        "identity yields NULL on both engines (round-13 degenerate "
        "sweep, tie-heavy fixture).",
    tags=("agg",),
    sql="""
SELECT l_returnflag,
       CAST(ROUND(COVAR_POP(l_quantity, l_extendedprice)
                  / NULLIF(STDDEV_POP(l_quantity)
                           * STDDEV_POP(l_extendedprice), 0), 6)
            AS DOUBLE) AS corr_qty_price,
       CAST(ROUND(COVAR_SAMP(l_quantity, l_discount), 6) AS DOUBLE) AS cov_s,
       CAST(ROUND(COVAR_POP(l_quantity, l_discount), 6) AS DOUBLE) AS cov_p
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
))

SPECS.append(QuerySpec(
    name="scalar_string_extras",
    doc="levenshtein / split_part / repeat / reverse — edit distance is "
        "a text-analysis primitive (fuzzy dedup).",
    tags=("scalar", "text"),
    build=lambda spark, sf: (
        spark.table("part")
        .select(
            "p_partkey",
            F.levenshtein("p_brand", "p_type").cast("bigint").alias("lev"),
            F.split_part("p_type", F.lit(" "), F.lit(1)).alias("first_word"),
            F.repeat(F.lit("ab"), 3).alias("rep"),
            F.reverse("p_brand").alias("rev"),
        )
        .orderBy("p_partkey")
        .limit(100)
    ),
    oracle="""
SELECT p_partkey,
       CAST(levenshtein(p_brand, p_type) AS BIGINT) AS lev,
       split_part(p_type, ' ', 1) AS first_word,
       repeat('ab', 3) AS rep,
       reverse(p_brand) AS rev
FROM part
ORDER BY p_partkey
LIMIT 100
""",
))

SPECS.append(QuerySpec(
    name="array_set_ops",
    doc="array_union / array_intersect / array_except over token arrays "
        "(canonicalized by sort for cross-engine order independence).",
    tags=("array",),
    build=lambda spark, sf: (
        spark.table("documents")
        .select(
            "doc_id",
            F.split(F.col("text"), " ").alias("a"),
            F.split(F.lower(F.col("source")), "c").alias("b"),
        )
        .select(
            "doc_id",
            # array_join-serialized: harness canonicalizers hash through
            # pandas and array cells are unhashable there.
            F.array_join(
                F.sort_array(F.array_union("a", "b")), "|"
            ).alias("u"),
            F.array_join(
                F.sort_array(F.array_intersect("a", "b")), "|"
            ).alias("i"),
            F.array_join(
                F.sort_array(F.array_except("a", "b")), "|"
            ).alias("e"),
            F.size(F.flatten(F.array("a", "b"))).cast("bigint").alias("n_flat"),
        )
        .orderBy("doc_id")
        .limit(100)
    ),
    oracle="""
WITH t AS (
  SELECT doc_id,
         string_split(text, ' ') AS a,
         string_split(lower(source), 'c') AS b
  FROM documents
)
SELECT doc_id,
       COALESCE(array_to_string(list_sort(list_distinct(list_concat(a, b))), '|'), '') AS u,
       COALESCE(array_to_string(list_sort(list_distinct(list_filter(a, x -> list_contains(b, x)))), '|'), '') AS i,
       COALESCE(array_to_string(list_sort(list_distinct(list_filter(a, x -> NOT list_contains(b, x)))), '|'), '') AS e,
       CAST(len(a) + len(b) AS BIGINT) AS n_flat
FROM t
ORDER BY doc_id
LIMIT 100
""",
))

SPECS.append(QuerySpec(
    name="window_nth_cume_dist",
    doc="NTH_VALUE + CUME_DIST window functions (completing the window "
        "family).",
    tags=("window",),
    sql="""
SELECT o_custkey, o_orderkey,
       CAST(ROUND(COALESCE(NTH_VALUE(o_totalprice, 2) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate NULLS FIRST, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1), 2) AS DOUBLE) AS second_price,
       CAST(ROUND(CUME_DIST() OVER (
         PARTITION BY o_custkey ORDER BY ROUND(o_totalprice, 2) NULLS FIRST, o_orderkey), 6) AS DOUBLE) AS cd
FROM orders
ORDER BY o_custkey, o_orderkey
LIMIT 200
""",
))

SPECS.append(QuerySpec(
    name="agg_bitwise",
    doc="Bitwise aggregate functions (bit_and/bit_or/bit_xor).",
    tags=("agg",),
    sql="""
SELECT l_returnflag,
       CAST(BIT_AND(l_linenumber) AS BIGINT) AS b_and,
       CAST(BIT_OR(l_linenumber) AS BIGINT) AS b_or,
       CAST(BIT_XOR(l_linenumber) AS BIGINT) AS b_xor
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
))

SPECS.append(QuerySpec(
    name="agg_exact_percentiles",
    doc="EXACT continuous percentiles (median/quartiles) — deterministic "
        "interpolation, unlike the approx variant.",
    tags=("agg",),
    build=lambda spark, sf: (
        spark.table("lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4)
            .cast("double").alias("median_price"),
            F.round(F.expr("percentile(l_extendedprice, 0.25)"), 4)
            .cast("double").alias("q1_price"),
            F.round(F.expr("percentile(l_extendedprice, 0.75)"), 4)
            .cast("double").alias("q3_price"),
        )
        .orderBy("l_returnflag")
    ),
    oracle="""
SELECT l_returnflag,
       CAST(ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS DOUBLE) AS median_price,
       CAST(ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS DOUBLE) AS q1_price,
       CAST(ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS DOUBLE) AS q3_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
))

SPECS.append(QuerySpec(
    name="agg_string_concat",
    doc="Ordered string aggregation (listagg shape): sorted token join.",
    tags=("agg",),
    build=lambda spark, sf: (
        spark.table("orders")
        .groupBy("o_custkey")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_list("o_orderstatus")))
            .alias("status_cat"),
        )
        .orderBy("o_custkey")
        .limit(100)
    ),
    oracle="""
SELECT o_custkey,
       array_to_string(list_sort(list(o_orderstatus)), ',') AS status_cat
FROM orders
GROUP BY o_custkey
ORDER BY o_custkey
LIMIT 100
""",
))

SPECS.append(QuerySpec(
    name="scalar_sequence_slice_funcs",
    doc="Array-constructor scalar breadth: sequence, slice, "
        "array_repeat, array_position, element_at (flattened to "
        "strings/scalars for the hash compare).",
    tags=("array",),
    build=lambda spark, sf: (
        spark.table("orders")
        .select(
            "o_orderkey",
            F.array_join(
                F.sequence(F.lit(1), (F.col("o_orderkey") % 5 + 1).cast("int")), ","
            ).alias("seq"),
            F.array_join(
                F.slice(
                    F.sequence(F.lit(1), F.lit(10)),
                    (F.col("o_orderkey") % 3 + 1).cast("int"),
                    3,
                ),
                ",",
            ).alias("sliced"),
            F.array_join(F.array_repeat(F.col("o_orderstatus"), 3), "").alias("rep"),
            F.array_position(
                F.split(F.col("o_orderpriority"), "-"), "URGENT"
            ).cast("bigint").alias("pos_urgent"),
            F.element_at(F.split(F.col("o_orderpriority"), "-"), 2).alias("prio_word"),
        )
        .orderBy("o_orderkey")
        .limit(100)
    ),
    oracle="""
SELECT o_orderkey,
       array_to_string(range(1, (o_orderkey % 5 + 1) + 1), ',') AS seq,
       array_to_string((range(1, 11))[(o_orderkey % 3 + 1) : (o_orderkey % 3 + 3)], ',') AS sliced,
       repeat(o_orderstatus, 3) AS rep,
       CAST(COALESCE(list_position(string_split(o_orderpriority, '-'), 'URGENT'), 0) AS BIGINT)
         AS pos_urgent,
       string_split(o_orderpriority, '-')[2] AS prio_word
FROM orders
ORDER BY o_orderkey
LIMIT 100
""",
))

SPECS.append(QuerySpec(
    name="approx_distinct_percentile",
    doc="Approximate aggregates (approx_count_distinct, percentile_approx) "
        "made deterministically oracle-checkable: the spec emits TOLERANCE "
        "BOOLEANS — |approx − exact| within a bound that the sketch "
        "guarantees with huge margin (HLL++ rsd=0.05 → 15% = 3σ bound; "
        "percentile_approx accuracy=10000 → ≤ n/10000 rank error) — so the "
        "expected output is the constant all-true row and the oracle is a "
        "plain VALUES row. Both sketches are deterministic functions of the "
        "data (no RNG), so the booleans are stable across runs.",
    tags=("agg", "approx"),
    build=lambda spark, sf: (
        spark.table("lineitem")
        .agg(
            F.approx_count_distinct("l_partkey").alias("ad"),
            F.count_distinct("l_partkey").alias("ed"),
            F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000)).alias("ap50"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("ep50"),
            F.percentile_approx("l_quantity", F.lit(0.25), F.lit(10000)).alias("aq25"),
            F.expr("percentile(l_quantity, 0.25)").alias("eq25"),
            F.percentile_approx("l_quantity", F.lit(0.75), F.lit(10000)).alias("aq75"),
            F.expr("percentile(l_quantity, 0.75)").alias("eq75"),
        )
        .select(
            # vacuous truth on an EMPTY relation (round-13 degenerate
            # sweep): ed = 0 made the ratio an ANSI DIVIDE_BY_ZERO and
            # NULL exact percentiles made the bounds NULL — an empty
            # input has no sketch error to bound, so every check holds;
            # try_divide + coalesce(TRUE) keeps the oracle's constant
            # row exact in both regimes
            F.coalesce(
                F.try_divide(F.abs(F.col("ad") - F.col("ed")), F.col("ed"))
                < 0.15,
                F.lit(True),
            ).alias("distinct_within_15pct"),
            F.coalesce(
                F.try_divide(
                    F.abs(F.col("ap50") - F.col("ep50")), F.col("ep50")
                )
                < 0.02,
                F.lit(True),
            ).alias("median_price_within_2pct"),
            # quantity is a dense small-int domain: the approx sketch
            # returns a real data value, the exact percentile interpolates
            # — they can differ by at most one adjacent value
            F.coalesce(
                F.abs(F.col("aq25") - F.col("eq25")) <= 1.0, F.lit(True)
            ).alias("qty_q25_within_1"),
            F.coalesce(
                F.abs(F.col("aq75") - F.col("eq75")) <= 1.0, F.lit(True)
            ).alias("qty_q75_within_1"),
        )
    ),
    oracle="""
SELECT TRUE AS distinct_within_15pct,
       TRUE AS median_price_within_2pct,
       TRUE AS qty_q25_within_1,
       TRUE AS qty_q75_within_1
""",
))


SPECS.append(QuerySpec(
    name="map_transform_funcs",
    doc="Map construction/transformation family: str_to_map, map_concat, "
        "transform_values, transform_keys, map_filter — serialized to a "
        "sorted k=v string (map cells are unhashable in the harness "
        "canonicalizer, same discipline as agg_collect_sorted). Oracle "
        "re-derives the final string directly from the source columns.",
    tags=("map", "scalar"),
    build=lambda spark, sf: (
        spark.table("orders")
        .select(
            "o_orderkey",
            F.map_filter(
                F.transform_keys(
                    F.transform_values(
                        F.map_concat(
                            F.expr(
                                "str_to_map(concat('status:', o_orderstatus,"
                                " ',prio:', split_part(o_orderpriority, '-', 2)),"
                                " ',', ':')"
                            ),
                            F.create_map(F.lit("ok"), F.lit("1")),
                        ),
                        lambda k, v: F.lower(v),
                    ),
                    lambda k, v: F.upper(k),
                ),
                lambda k, v: k != F.lit("OK"),
            ).alias("m"),
        )
        .select(
            "o_orderkey",
            F.array_join(
                F.sort_array(
                    F.transform(
                        F.map_entries("m"),
                        lambda e: F.concat(e["key"], F.lit("="), e["value"]),
                    )
                ),
                ",",
            ).alias("kv"),
            F.size(F.map_keys("m")).cast("long").alias("n_keys"),
        )
        .orderBy("o_orderkey")
        .limit(200)
    ),
    oracle="""
SELECT o_orderkey,
       concat('PRIO=', lower(split_part(o_orderpriority, '-', 2)),
              ',STATUS=', lower(o_orderstatus)) AS kv,
       CAST(2 AS BIGINT) AS n_keys
FROM orders
ORDER BY o_orderkey
LIMIT 200
""",
))


SPECS.append(QuerySpec(
    name="window_time_range_frame",
    doc="Time-INTERVAL RANGE frame (rolling 1-hour window per user) — "
        "the value-based frame over timestamps, complementing the "
        "numeric RANGE frame spec. Oracle windows over the same "
        "µs-truncated timestamps (epoch_ns // 1000, FIXTURES.md §C).",
    tags=("window", "events"),
    sql="""
SELECT user_id, event_id,
       COUNT(*) OVER w AS n_1h,
       CAST(ROUND(SUM(value) OVER w, 2) AS DOUBLE) AS sum_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
ORDER BY user_id, event_id
LIMIT 2000
""",
    oracle="""
WITH e AS (
  SELECT user_id, event_id, value,
         make_timestamp(epoch_ns(ts) // 1000) AS ts
  FROM events
)
SELECT user_id, event_id,
       COUNT(*) OVER w AS n_1h,
       CAST(ROUND(SUM(value) OVER w, 2) AS DOUBLE) AS sum_1h
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
ORDER BY user_id, event_id
LIMIT 2000
""",
))


SPECS.append(QuerySpec(
    name="scalar_try_funcs",
    doc="ANSI-safe try_* family (Spark 4 runs ANSI mode ON): try_divide "
        "by zero, try_cast of non-numeric text and of a valid numeral, "
        "try_to_timestamp of garbage and of a real date — NULL where "
        "unparseable, never an exception.",
    tags=("scalar",),
    build=lambda spark, sf: (
        spark.table("lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.try_divide(
                F.col("l_extendedprice"), F.col("l_quantity") - F.col("l_quantity")
            ).alias("div0"),
            # FLOOR(x*100 + 0.5)/100, not ROUND: Spark rounds the decimal
            # rendering (BigDecimal HALF_UP), DuckDB rounds the double —
            # they disagree on exact .xx5 boundaries (FIXTURES.md §C)
            (
                F.floor(
                    F.try_divide(F.col("l_extendedprice"), F.col("l_quantity")) * 100
                    + 0.5
                )
                / 100
            ).cast("double").alias("unit_price"),
            F.expr("try_cast(l_returnflag AS INT)").alias("flag_int"),
            F.expr("try_cast(cast(l_linenumber AS STRING) AS INT)").alias("line_int"),
            F.expr("try_to_timestamp('not-a-date')").alias("bad_ts"),
            F.expr(
                "try_to_timestamp(date_format(l_shipdate, 'yyyy-MM-dd'))"
            ).alias("ship_ts"),
        )
        .orderBy("l_orderkey", "l_linenumber")
        .limit(300)
    ),
    oracle="""
SELECT l_orderkey, l_linenumber,
       CAST(NULL AS DOUBLE) AS div0,
       CAST(FLOOR(l_extendedprice / l_quantity * 100 + 0.5) / 100 AS DOUBLE) AS unit_price,
       TRY_CAST(l_returnflag AS INT) AS flag_int,
       CAST(l_linenumber AS INT) AS line_int,
       TRY_CAST('not-a-date' AS TIMESTAMP) AS bad_ts,
       TRY_CAST(strftime(l_shipdate, '%Y-%m-%d') AS TIMESTAMP) AS ship_ts
FROM lineitem
ORDER BY l_orderkey, l_linenumber
LIMIT 300
""",
))


SPECS.append(QuerySpec(
    name="agg_stats_moments",
    doc="Higher statistical moments: population skewness and excess "
        "kurtosis per group (Spark built-ins; oracle recomputes from raw "
        "central moments, so the definitions are pinned, not assumed).",
    tags=("agg",),
    build=lambda spark, sf: (
        spark.table("lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.skewness("l_quantity"), 4).cast("double").alias("skew_qty"),
            F.round(F.kurtosis("l_quantity"), 4).cast("double").alias("kurt_qty"),
            F.round(F.skewness("l_extendedprice"), 4).cast("double").alias("skew_price"),
            F.round(F.kurtosis("l_extendedprice"), 4).cast("double").alias("kurt_price"),
        )
        .orderBy("l_returnflag")
    ),
    oracle="""
WITH mu AS (
  SELECT l_returnflag,
         AVG(l_quantity) AS mq, AVG(l_extendedprice) AS mp
  FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_returnflag,
       CAST(ROUND(AVG(POW(l_quantity - mq, 3))
            / POW(AVG(POW(l_quantity - mq, 2)), 1.5), 4) AS DOUBLE) AS skew_qty,
       CAST(ROUND(AVG(POW(l_quantity - mq, 4))
            / POW(AVG(POW(l_quantity - mq, 2)), 2) - 3, 4) AS DOUBLE) AS kurt_qty,
       CAST(ROUND(AVG(POW(l_extendedprice - mp, 3))
            / POW(AVG(POW(l_extendedprice - mp, 2)), 1.5), 4) AS DOUBLE) AS skew_price,
       CAST(ROUND(AVG(POW(l_extendedprice - mp, 4))
            / POW(AVG(POW(l_extendedprice - mp, 2)), 2) - 3, 4) AS DOUBLE) AS kurt_price
FROM lineitem l JOIN mu
  -- null-safe: the NULL-returnflag group must not vanish
  ON l.l_returnflag IS NOT DISTINCT FROM mu.l_returnflag
GROUP BY l.l_returnflag
ORDER BY l.l_returnflag
""",
))

SPECS.append(QuerySpec(
    name="agg_regression",
    doc="Linear-regression aggregates (regr_slope/intercept/r2/count of "
        "price on quantity per group) — both engines implement the "
        "standard least-squares definitions.",
    tags=("agg",),
    build=lambda spark, sf: (
        spark.table("lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4)
            .cast("double").alias("slope"),
            F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4)
            .cast("double").alias("intercept"),
            F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6)
            .cast("double").alias("r2"),
            F.regr_count("l_extendedprice", "l_quantity")
            .cast("bigint").alias("n_pairs"),
        )
        .orderBy("l_returnflag")
    ),
    oracle="""
SELECT l_returnflag,
       CAST(ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS DOUBLE) AS slope,
       CAST(ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS DOUBLE) AS intercept,
       CAST(ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS DOUBLE) AS r2,
       CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n_pairs
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
))

SPECS.append(QuerySpec(
    name="window_fill_forward",
    doc="Forward-fill (gap-fill) via last_value IGNORE NULLS over a "
        "running frame — the standard time-series repair for sparse "
        "sensor/metric columns. Nulls planted deterministically "
        "(event_id % 7 = 0).",
    tags=("window",),
    build=lambda spark, sf: (
        spark.table("events")
        .filter(F.col("user_id") < 20)
        .select(
            "event_id",
            "user_id",
            "ts",
            F.when(F.col("event_id") % 7 != 0, F.round("value", 2)).alias("v"),
        )
        .select(
            "event_id",
            "user_id",
            F.last("v", ignorenulls=True)
            .over(
                W.partitionBy("user_id")
                .orderBy("ts", "event_id")
                .rowsBetween(W.unboundedPreceding, W.currentRow)
            )
            .cast("double")
            .alias("v_filled"),
        )
        .orderBy("event_id")
    ),
    oracle="""
SELECT event_id, user_id,
       -- ts NULLS FIRST: match Spark's window-order default (the
       -- build side) on NULL-ts rows (round-12-continuation sweep)
       CAST(last_value(v IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS v_filled
FROM (
  SELECT event_id, user_id, ts,
         CASE WHEN event_id % 7 <> 0 THEN ROUND(value, 2) END AS v
  FROM events WHERE user_id < 20
) t
ORDER BY event_id
""",
))

SPECS.append(QuerySpec(
    name="scalar_fuzzy_levenshtein",
    doc="Fuzzy string matching: Levenshtein edit distance and a length-"
        "normalized similarity — the cheap pre-filter of entity "
        "resolution / near-dup pipelines.",
    tags=("scalar", "text"),
    build=lambda spark, sf: (
        spark.table("part")
        .select(
            "p_partkey",
            F.levenshtein("p_brand", "p_type").cast("int").alias("lev_bt"),
            F.levenshtein(F.lower("p_name"), F.lower("p_type"))
            .cast("int").alias("lev_nt"),
            F.round(
                1
                - F.levenshtein(F.lower("p_name"), F.lower("p_type"))
                / F.greatest(F.length("p_name"), F.length("p_type")),
                4,
            ).cast("double").alias("sim_nt"),
        )
        .orderBy("p_partkey")
        .limit(200)
    ),
    oracle="""
SELECT p_partkey,
       CAST(levenshtein(p_brand, p_type) AS INTEGER) AS lev_bt,
       CAST(levenshtein(lower(p_name), lower(p_type)) AS INTEGER) AS lev_nt,
       CAST(ROUND(1 - levenshtein(lower(p_name), lower(p_type)) * 1.0
            / GREATEST(LENGTH(p_name), LENGTH(p_type)), 4) AS DOUBLE) AS sim_nt
FROM part
ORDER BY p_partkey
LIMIT 200
""",
))


def _freq_items_build(spark, sf):
    ev = spark.table("events")
    # exact mode (most frequent event_type), deterministically tie-broken
    top = (
        ev.groupBy("event_type").count()
        .orderBy(F.col("count").desc(), "event_type")
        .limit(1)
        .collect()
    )
    if not top:
        # empty relation: containment and the size bound hold vacuously
        # (the bare [0] indexing crashed the build on an empty events
        # table — round-12-continuation NULL-orders sweep, where events
        # is an empty sibling fixture)
        return spark.createDataFrame(
            [(1, 1)], "contains_exact_top int, size_bounded int"
        )
    exact_top = top[0]["event_type"]
    # support=0.1 -> 1/support = 10 counters, strictly more than the
    # distinct event types, so the Karp sketch provably retains every
    # value (a tighter support would make the mode's inclusion
    # data-dependent for a near-uniform distribution)
    fi = ev.stat.freqItems(["event_type"], support=0.1).collect()[0][0]
    return spark.createDataFrame(
        [(int(exact_top in set(fi)), int(len(fi) <= 10))],
        "contains_exact_top int, size_bounded int",
    )


SPECS.append(QuerySpec(
    name="approx_freq_items",
    doc="Heavy hitters via freqItems (single-pass Karp-style counting): "
        "the returned set must contain the exact mode and respect the "
        "1/support size bound. Declared approximate -> tolerance-boolean "
        "outputs (approx_distinct_percentile convention).",
    tags=("agg", "approx"),
    build=_freq_items_build,
    oracle="""
SELECT CAST(1 AS INTEGER) AS contains_exact_top,
       CAST(1 AS INTEGER) AS size_bounded
""",
))


def _observe_metrics_build(spark, sf):
    from pyspark.sql import Observation

    obs = Observation("order_metrics")
    df = (
        spark.table("orders")
        .observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_totalprice").alias("sum_price"),
        )
        .groupBy("o_orderstatus")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    schema = (
        "o_orderstatus string, n bigint, observed_rows int, observed_sum double"
    )
    per_status = {r["o_orderstatus"]: r["n"] for r in df.collect()}
    if not per_status:
        # EMPTY relation (round-13 degenerate sweep): the aggregate
        # produced no output rows and the observe node's metrics row is
        # not materialized for the Python bridge (obs.get crashed in
        # toPyRow) — and there is nothing to annotate anyway
        return spark.createDataFrame([], schema)
    m = obs.get  # blocks until the action above completes
    # NULLs-first status order (a NULL status group is a real group;
    # bare sorted() raises on str/None mix); an all-NULL price sum is
    # NULL, not a float() crash
    osum = None if m["sum_price"] is None else round(float(m["sum_price"]), 2)
    rows = [
        (s, per_status[s], int(m["n_rows"]), osum)
        for s in sorted(per_status, key=lambda s: (s is not None, s))
    ]
    return spark.createDataFrame(rows, schema)


SPECS.append(QuerySpec(
    name="observe_metrics_inline",
    doc="Dataset.observe + Observation: accumulator-style metrics "
        "collected DURING the query action (no second scan) — the "
        "observability hook for row-count/sum audits inside a pipeline. "
        "Observed totals must equal the oracle's aggregate.",
    tags=("observability",),
    build=_observe_metrics_build,
    oracle="""
SELECT o_orderstatus, COUNT(*) AS n,
       CAST((SELECT COUNT(*) FROM orders) AS INTEGER) AS observed_rows,
       CAST(ROUND((SELECT SUM(o_totalprice) FROM orders), 2) AS DOUBLE)
         AS observed_sum
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
))


SPECS.append(QuerySpec(
    name="q2_shape_min_cost_supplier",
    doc="TPC-H Q2's structure — correlated scalar-MIN subquery selecting "
        "the cheapest supplier per part within a region — with the "
        "partsupp cost derived from lineitem (the fixtures omit "
        "partsupp; min unit price over observed lineitems stands in). "
        "Identical SQL text on both engines.",
    tags=("tpch", "subquery"),
    sql="""
WITH ps AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         MIN(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem GROUP BY 1, 2
)
SELECT p_partkey, s_name, n_name,
       -- FLOOR(x*100+0.5)/100, not ROUND(x,2): Spark rounds the
       -- shortest-decimal rendering via BigDecimal HALF_UP while
       -- DuckDB rounds the double, so .xx5 quotients diverge (143
       -- such min costs exist at sf0.01; none currently survives the
       -- filters — fixture luck, review round 11)
       CAST(FLOOR(ps.unit_cost * 100 + 0.5) / 100 AS DOUBLE) AS unit_cost
FROM part, supplier, nation, region, ps
WHERE p_partkey = ps.partkey AND s_suppkey = ps.suppkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'EUROPE' AND p_partkey < 500
  AND ps.unit_cost = (
    SELECT MIN(ps2.unit_cost)
    FROM ps ps2, supplier s2, nation n2, region r2
    WHERE ps2.partkey = p_partkey AND s2.s_suppkey = ps2.suppkey
      AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
      AND r2.r_name = 'EUROPE'
  )
ORDER BY p_partkey, s_name
""",
))


SPECS.append(QuerySpec(
    name="q21_shape_sole_failing_supplier",
    doc="TPC-H Q21's structure — the double-correlated EXISTS / "
        "NOT EXISTS pattern finding suppliers who were the ONLY "
        "returned-flag supplier on a finished multi-supplier order "
        "(l_returnflag='R' stands in for the receipt-after-commit "
        "failure predicate; the fixtures omit those dates). Identical "
        "SQL text on both engines.",
    tags=("tpch", "subquery"),
    sql="""
SELECT s_name, COUNT(*) AS numwait
FROM supplier, lineitem l1, orders
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R'
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name
""",
))


SPECS.append(QuerySpec(
    name="q9_shape_product_profit",
    doc="TPC-H Q9's structure — 5-way star with a LIKE part filter, "
        "profit netting a per-(part,supplier) supply cost, grouped by "
        "nation and order year — with supplycost derived from lineitem "
        "min unit price (the fixtures omit partsupp). Identical SQL on "
        "both engines.",
    tags=("tpch",),
    sql="""
WITH ps AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         MIN(l_extendedprice / l_quantity) AS supplycost
  FROM lineitem GROUP BY 1, 2
)
SELECT n_name AS nation, CAST(YEAR(o_orderdate) AS INTEGER) AS o_year,
       CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)
                      - ps.supplycost * l_quantity), 2) AS DOUBLE) AS sum_profit
FROM part, supplier, lineitem, orders, nation, ps
WHERE s_suppkey = l_suppkey AND ps.suppkey = l_suppkey
  AND ps.partkey = l_partkey AND p_partkey = l_partkey
  AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
  AND p_name LIKE '%red%'
GROUP BY n_name, YEAR(o_orderdate)
ORDER BY nation, o_year DESC
""",
))


SPECS.append(QuerySpec(
    name="q11_shape_important_stock",
    doc="TPC-H Q11's structure — per-part value within one nation "
        "gated by a HAVING-style threshold against a scalar subquery "
        "over the same derived relation. Values kept in exact integer "
        "cents so the threshold comparison cannot wobble with FP "
        "summation order. Identical SQL on both engines.",
    tags=("tpch", "subquery"),
    sql="""
WITH ps AS (
  SELECT l_partkey AS partkey,
         SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS value_cents
  FROM lineitem, supplier, nation
  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
    AND n_name = 'NATION_3'
  GROUP BY 1
)
SELECT CAST(partkey AS BIGINT) AS partkey,
       CAST(value_cents AS BIGINT) AS value_cents
FROM ps
WHERE value_cents > (SELECT SUM(value_cents) * 0.002 FROM ps)
ORDER BY value_cents DESC, partkey
""",
))


SPECS.append(QuerySpec(
    name="q16_shape_supplier_counts",
    doc="TPC-H Q16's structure — distinct supplier counts per part "
        "attribute combination with a NOT-IN supplier exclusion "
        "(negative account balance stands in for the complaint-comment "
        "filter; part-supplier pairs derive from lineitem). Identical "
        "SQL on both engines.",
    tags=("tpch", "subquery"),
    sql="""
WITH pairs AS (
  SELECT DISTINCT l_partkey AS partkey, l_suppkey AS suppkey FROM lineitem
)
SELECT p_brand, p_type, p_size, COUNT(DISTINCT suppkey) AS supplier_cnt
FROM pairs, part
WHERE p_partkey = partkey
  AND p_brand <> 'Brand#1' AND p_size IN (5, 11, 28, 37)
  AND suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
))


SPECS.append(QuerySpec(
    name="q20_shape_excess_availability",
    doc="TPC-H Q20's structure — the nested IN chain: suppliers whose "
        "availability for some red part exceeds 10% of that part's "
        "total moved quantity (availability derives from lineitem; the "
        "inner threshold is a correlated scalar subquery; 0.1 instead "
        "of Q20's 0.5 because the fixtures spread each part across "
        "enough suppliers that no share reaches one half — a 0-row "
        "result would make the check vacuous). Quantity sums are "
        "integer-valued doubles, so the threshold comparison is exact "
        "on both engines. Identical SQL on both engines.",
    tags=("tpch", "subquery"),
    sql="""
WITH avail AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         SUM(l_quantity) AS qty
  FROM lineitem GROUP BY 1, 2
)
SELECT s_name, n_name
FROM supplier, nation
WHERE s_nationkey = n_nationkey
  AND s_suppkey IN (
    SELECT suppkey FROM avail
    WHERE partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      AND qty > (
        SELECT 0.1 * SUM(l_quantity) FROM lineitem
        WHERE l_partkey = avail.partkey
      )
  )
ORDER BY s_name
""",
))


SPECS.append(QuerySpec(
    name="recursive_cte_ancestors",
    doc="Recursive CTE (Spark 4 WITH RECURSIVE): every order key walks "
        "its halving chain k -> k div 2 to the root — an acyclic "
        "ancestor recursion (depth ~ log2 k) aggregated to path depth "
        "and ancestor sum. Same query shape on both engines (dialect "
        "differs only in the integer-division token).",
    tags=("sql", "recursive"),
    build=lambda spark, sf: spark.sql("""
WITH RECURSIVE anc(start_key, k, depth) AS (
  SELECT o_orderkey, o_orderkey, 0 FROM orders WHERE o_orderkey < 500
  UNION ALL
  SELECT start_key, k DIV 2, depth + 1 FROM anc WHERE k > 0
)
SELECT CAST(start_key AS BIGINT) AS start_key,
       CAST(MAX(depth) AS INTEGER) AS root_depth,
       CAST(SUM(k) AS BIGINT) AS ancestor_sum
FROM anc GROUP BY start_key ORDER BY start_key
"""),
    oracle="""
WITH RECURSIVE anc(start_key, k, depth) AS (
  SELECT o_orderkey, o_orderkey, 0 FROM orders WHERE o_orderkey < 500
  UNION ALL
  SELECT start_key, k // 2, depth + 1 FROM anc WHERE k > 0
)
SELECT CAST(start_key AS BIGINT) AS start_key,
       CAST(MAX(depth) AS INTEGER) AS root_depth,
       CAST(SUM(k) AS BIGINT) AS ancestor_sum
FROM anc GROUP BY start_key ORDER BY start_key
""",
))


SPECS.append(QuerySpec(
    name="variant_json_extract",
    doc="VARIANT ingestion (Spark 4 semi-structured type): events.props "
        "parsed once to VARIANT, typed variant_get extraction, "
        "aggregated per event type. Oracle extracts the same path with "
        "DuckDB JSON operators.",
    tags=("json", "variant"),
    build=lambda spark, sf: (
        spark.table("events")
        .select(
            "event_type",
            F.expr(
                "variant_get(parse_json(props), '$.k', 'bigint')"
            ).alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").cast("bigint").alias("min_k"),
            F.max("k").cast("bigint").alias("max_k"),
        )
        .orderBy("event_type")
    ),
    oracle="""
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MIN(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS min_k,
       CAST(MAX(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
""",
))


SPECS.append(QuerySpec(
    name="events_session_window_batch",
    doc="The NATIVE batch session_window operator (30-min gap) via "
        "Spark's built-in SessionWindow expression; oracle re-derives "
        "sessions with gap arithmetic. Boundary semantics verified "
        "empirically (review round 11): Spark MERGES an exactly-gap-"
        "apart pair into one session (boundary-inclusive), so the "
        "oracle's strict > new-session test matches — same boundary "
        "as the lag+cumsum sessionize spec.",
    tags=("events", "session"),
    build=lambda spark, sf: (
        spark.table("events")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count("*").cast("bigint").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"), "user_id", "n_events"
        )
        .orderBy("user_id", "session_start")
    ),
    oracle="""
WITH e AS (
  -- ts IS NOT NULL pins the engine: session_window() DROPS NULL-ts
  -- rows, while a NULL t here sorted LAST and silently merged into
  -- the user's final session (round-12-continuation sweep)
  SELECT user_id, event_id, (epoch_ns(ts) // 1000) AS t FROM events
  WHERE ts IS NOT NULL
), g AS (
  SELECT user_id, event_id, t,
         CASE WHEN t - LAG(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
                   > 1800000000
              OR LAG(t) OVER (PARTITION BY user_id ORDER BY t, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM e
), s AS (
  SELECT user_id, t,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
)
SELECT CAST(make_timestamp(MIN(t)) AS TIMESTAMP) AS session_start,
       user_id, CAST(COUNT(*) AS BIGINT) AS n_events
FROM s
GROUP BY user_id, sid
ORDER BY user_id, session_start
""",
))


def _udtf_build(spark, sf):
    from pyspark.sql.functions import udtf

    @udtf(returnType="word string, pos int")
    class FirstTokens:
        def eval(self, text: str):
            # `is not None`, not truthiness: ''.split(' ') is [''] on
            # BOTH engines (one ('', 1) row) — a truthiness guard
            # dropped empty docs only on the Spark side (review r11)
            if text is not None:
                for i, w in enumerate(text.split(" ")[:5], start=1):
                    yield w, i

    spark.udtf.register("first_tokens", FirstTokens)
    return spark.sql("""
        SELECT doc_id, t.word, t.pos
        FROM documents, LATERAL first_tokens(text) t
        WHERE doc_id < 100
        ORDER BY doc_id, pos
    """).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "word",
        F.col("pos").cast("int").alias("pos"),
    )


SPECS.append(QuerySpec(
    name="udtf_first_tokens",
    doc="Python user-defined TABLE function (UDTF, the Lambda-style "
        "extension point generalized to one-to-many): LATERAL-joined "
        "per-document token emitter, first 5 whitespace tokens with "
        "1-based positions. Oracle = list-slice unnest.",
    tags=("udf", "udtf"),
    build=_udtf_build,
    oracle="""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id < 100
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       w[CAST(i AS INTEGER)] AS word,
       CAST(i AS INTEGER) AS pos
FROM (SELECT doc_id, w, unnest(generate_series(1, LEAST(5, len(w)))) AS i FROM d)
ORDER BY doc_id, pos
""",
))


SPECS.append(QuerySpec(
    name="agg_histogram_width_bucket",
    doc="Equi-width histogram via width_bucket (Spark-side JVM builtin; "
        "DuckDB oracle emulates the same floor arithmetic): order "
        "totalprice bucketed into 10 bins over [0, 500000) plus "
        "underflow/overflow bins.",
    tags=("agg", "histogram"),
    build=lambda spark, sf: (
        spark.table("orders")
        .withColumn(
            "bucket",
            F.width_bucket(F.col("o_totalprice"), F.lit(0.0), F.lit(500000.0), F.lit(10)).cast("int"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.min("o_totalprice"), 2).cast("double").alias("lo"),
            F.round(F.max("o_totalprice"), 2).cast("double").alias("hi"),
        )
        .orderBy("bucket")
    ),
    oracle="""
SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
                 WHEN o_totalprice >= 500000 THEN 11
                 ELSE CAST(FLOOR(o_totalprice / 50000) AS INTEGER) + 1 END AS INTEGER)
         AS bucket,
       COUNT(*) AS n,
       CAST(ROUND(MIN(o_totalprice), 2) AS DOUBLE) AS lo,
       CAST(ROUND(MAX(o_totalprice), 2) AS DOUBLE) AS hi
FROM orders
GROUP BY 1
ORDER BY bucket
""",
))


SPECS.append(QuerySpec(
    name="join_lateral_topn",
    doc="LATERAL correlated subquery join (ANSI LATERAL; Spark DomainJoin "
        "rewrite): each customer joined to its top-2 orders by price via "
        "a correlated ORDER BY ... LIMIT subquery — the join class the "
        "windowed top-k per group expresses relationally. Identical SQL "
        "on both engines; deterministic via the o_orderkey tiebreak.",
    tags=("join", "lateral"),
    sql="""
SELECT CAST(c.c_custkey AS BIGINT) AS c_custkey,
       CAST(o.o_orderkey AS BIGINT) AS o_orderkey,
       CAST(o.o_totalprice AS DOUBLE) AS o_totalprice
FROM customer c,
     LATERAL (SELECT o_orderkey, o_totalprice
              FROM orders
              WHERE o_custkey = c.c_custkey
              ORDER BY o_totalprice DESC, o_orderkey
              LIMIT 2) o
WHERE c.c_custkey <= 200
ORDER BY c_custkey, o_orderkey
""",
))


def _funnel_build(spark, sf):
    """Ordered conversion funnel view -> click -> purchase, computed in
    ONE shuffle: three window mins over the same user partitioning
    (Catalyst reuses the exchange), each stage gated on strictly-after
    the previous stage's first hit. Integer µs arithmetic end to end."""
    w = W.partitionBy("user_id")
    # domain contract: the funnel is over IDENTIFIED users with
    # TIMESTAMPED events — the oracle's stage joins on user_id silently
    # dropped a NULL-user group the engine's window kept
    # (round-12-continuation NULL-events sweep)
    e = spark.table("events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    ).select(
        "user_id", "event_type", F.unix_micros("ts").alias("t")
    )
    staged = (
        e.withColumn(
            "vt", F.min(F.when(F.col("event_type") == "view", F.col("t"))).over(w)
        )
        .withColumn(
            "ct",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("t") > F.col("vt")),
                    F.col("t"),
                )
            ).over(w),
        )
        .withColumn(
            "pt",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("t") > F.col("ct")),
                    F.col("t"),
                )
            ).over(w),
        )
        .select("user_id", "vt", "ct", "pt")
        .distinct()
    )
    return (
        staged.agg(
            F.count("vt").cast("bigint").alias("n_view"),
            F.count("ct").cast("bigint").alias("n_click_after_view"),
            F.count("pt").cast("bigint").alias("n_purchase_after_click"),
            F.sum(((F.col("ct") - F.col("vt")) / F.lit(1_000_000)).cast("bigint"))
            .cast("bigint").alias("view_to_click_sec"),
            F.sum(((F.col("pt") - F.col("ct")) / F.lit(1_000_000)).cast("bigint"))
            .cast("bigint").alias("click_to_purchase_sec"),
        )
    )


SPECS.append(QuerySpec(
    name="events_funnel_stages",
    doc="Ordered conversion-funnel analysis (view -> first click after "
        "it -> first purchase after that): per-stage reached-user "
        "counts and total stage-transition seconds. One shuffle; three "
        "window mins share the user partitioning.",
    tags=("events", "analytics"),
    build=_funnel_build,
    oracle="""
WITH e AS (
  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS t FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
), v AS (
  SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN t END) AS vt
  FROM e GROUP BY user_id
), c AS (
  SELECT e.user_id, v.vt,
         MIN(CASE WHEN e.event_type = 'click' AND e.t > v.vt THEN e.t END) AS ct
  FROM e JOIN v ON e.user_id = v.user_id
  GROUP BY e.user_id, v.vt
), s2 AS (
  SELECT e.user_id, c.vt, c.ct,
         MIN(CASE WHEN e.event_type = 'purchase' AND e.t > c.ct THEN e.t END) AS pt
  FROM e JOIN c ON e.user_id = c.user_id
  GROUP BY e.user_id, c.vt, c.ct
)
SELECT CAST(COUNT(vt) AS BIGINT) AS n_view,
       CAST(COUNT(ct) AS BIGINT) AS n_click_after_view,
       CAST(COUNT(pt) AS BIGINT) AS n_purchase_after_click,
       CAST(SUM((ct - vt) // 1000000) AS BIGINT) AS view_to_click_sec,
       CAST(SUM((pt - ct) // 1000000) AS BIGINT) AS click_to_purchase_sec
FROM s2
""",
))


SPECS.append(QuerySpec(
    name="events_retention_cohorts",
    doc="Weekly retention-cohort matrix: users cohorted by the Monday "
        "week of their first event; each (cohort, week-offset) cell "
        "counts distinct users active that week. Two shuffles (first-"
        "event per user, then the cohort-cell distinct count); the "
        "user->cohort attach is a co-partitioned join on user_id.",
    tags=("events", "analytics"),
    build=lambda spark, sf: (
        spark.table("events")
        .select("user_id", F.date_trunc("week", "ts").cast("date").alias("wk"))
        .join(
            spark.table("events")
            .groupBy("user_id")
            .agg(F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")),
            "user_id",
        )
        .select(
            "user_id",
            "cohort_week",
            (F.datediff("wk", "cohort_week") / 7).cast("int").alias("week_offset"),
        )
        .distinct()
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").cast("bigint").alias("active_users"))
        .orderBy("cohort_week", "week_offset")
    ),
    oracle="""
WITH firsts AS (
  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY user_id
), cells AS (
  SELECT DISTINCT e.user_id, f.cohort_week,
         CAST((CAST(date_trunc('week', e.ts) AS DATE) - f.cohort_week) // 7
              AS INTEGER) AS week_offset
  FROM events e JOIN firsts f ON e.user_id = f.user_id
)
SELECT cohort_week, week_offset, CAST(COUNT(*) AS BIGINT) AS active_users
FROM cells
GROUP BY cohort_week, week_offset
ORDER BY cohort_week, week_offset
""",
))


def _null_safe_join_build(spark, sf):
    """NULL-safe equality join (<=> / IS NOT DISTINCT FROM): the NULL
    key bucket joins to itself instead of dropping out. Spark plans
    this as a regular SortMergeJoin/BroadcastHashJoin on a null-safe
    key (NOT a cartesian), so it scales like any equi-join."""
    e = spark.table("events").select(
        F.nullif("event_type", F.lit("error")).alias("et"),
        F.dayofmonth("ts").alias("dom"),
        "value",
    )
    a = (
        e.filter(F.col("dom") <= 15)
        .groupBy("et")
        .agg(F.count("*").cast("bigint").alias("n_first"))
    )
    b = (
        e.filter(F.col("dom") > 15)
        .groupBy("et")
        .agg(F.count("*").cast("bigint").alias("n_second"))
    )
    return (
        a.join(b, a["et"].eqNullSafe(b["et"]))
        .select(a["et"].alias("et"), "n_first", "n_second")
        .orderBy(F.col("et").asc_nulls_first())
    )


SPECS.append(QuerySpec(
    name="join_null_safe_eq",
    doc="Null-safe equi-join: first-half vs second-half-of-month event "
        "counts per (nullable) event class, the NULL class ('error' "
        "nulled via NULLIF) preserved by <=> semantics. Oracle uses IS "
        "NOT DISTINCT FROM.",
    tags=("join",),
    build=_null_safe_join_build,
    oracle="""
WITH e AS (
  SELECT NULLIF(event_type, 'error') AS et,
         CAST(EXTRACT(day FROM ts) AS INTEGER) AS dom
  FROM events
), a AS (
  SELECT et, CAST(COUNT(*) AS BIGINT) AS n_first FROM e
  WHERE dom <= 15 GROUP BY et
), b AS (
  SELECT et, CAST(COUNT(*) AS BIGINT) AS n_second FROM e
  WHERE dom > 15 GROUP BY et
)
SELECT a.et, a.n_first, b.n_second
FROM a JOIN b ON a.et IS NOT DISTINCT FROM b.et
ORDER BY a.et NULLS FIRST
""",
))


SPECS.append(QuerySpec(
    name="window_ntile_buckets",
    doc="NTILE(4) quartile bucketing of customers by account balance "
        "within market segment (identical SQL both engines; "
        "deterministic tiebreak on custkey).",
    tags=("window",),
    sql="""
SELECT c_mktsegment, bucket,
       COUNT(*) AS n,
       CAST(MIN(c_custkey) AS BIGINT) AS min_key,
       CAST(MAX(c_custkey) AS BIGINT) AS max_key
FROM (
  SELECT c_mktsegment, c_custkey,
         NTILE(4) OVER (PARTITION BY c_mktsegment
                        ORDER BY c_acctbal DESC, c_custkey) AS bucket
  FROM customer
) t
GROUP BY c_mktsegment, bucket
ORDER BY c_mktsegment, bucket
""",
))


SPECS.append(QuerySpec(
    name="scalar_bit_funcs",
    doc="Bit-manipulation scalars: bit_count, shifts, AND/OR/XOR, "
        "two's-complement NOT — JVM-side expressions; the oracle "
        "spells DuckDB's operator equivalents.",
    tags=("scalar",),
    build=lambda spark, sf: (
        spark.table("orders")
        .filter(F.col("o_orderkey") <= 512)
        .select(
            "o_orderkey",
            F.bit_count("o_orderkey").cast("int").alias("pop_count"),
            F.shiftleft("o_orderkey", 3).cast("bigint").alias("shl3"),
            F.shiftright("o_orderkey", 2).cast("bigint").alias("shr2"),
            (F.col("o_orderkey").bitwiseAND(F.lit(255))).cast("bigint").alias("and_ff"),
            (F.col("o_orderkey").bitwiseOR(F.lit(4096))).cast("bigint").alias("or_4096"),
            (F.col("o_orderkey").bitwiseXOR(F.col("o_custkey"))).cast("bigint").alias("xor_cust"),
            F.bitwise_not(F.col("o_orderkey")).cast("bigint").alias("not_key"),
        )
        .orderBy("o_orderkey")
    ),
    oracle="""
SELECT o_orderkey,
       CAST(bit_count(o_orderkey) AS INTEGER) AS pop_count,
       CAST(o_orderkey << 3 AS BIGINT) AS shl3,
       CAST(o_orderkey >> 2 AS BIGINT) AS shr2,
       CAST(o_orderkey & 255 AS BIGINT) AS and_ff,
       CAST(o_orderkey | 4096 AS BIGINT) AS or_4096,
       CAST(xor(o_orderkey, o_custkey) AS BIGINT) AS xor_cust,
       CAST(-o_orderkey - 1 AS BIGINT) AS not_key
FROM orders
WHERE o_orderkey <= 512
ORDER BY o_orderkey
""",
))


SPECS.append(QuerySpec(
    name="scalar_csv_funcs",
    doc="CSV scalar round-trip: from_csv parses a typed struct out of "
        "an embedded CSV line, to_csv re-serializes it; the oracle "
        "re-derives the fields with string_split.",
    tags=("scalar",),
    build=lambda spark, sf: (
        spark.table("orders")
        .filter(F.col("o_orderkey") <= 200)
        .select(
            "o_orderkey",
            F.concat_ws(
                ",", "o_orderkey", "o_orderstatus", "o_orderpriority"
            ).alias("line"),
        )
        .select(
            "o_orderkey",
            F.from_csv(
                "line", F.lit("k BIGINT, status STRING, prio STRING")
            ).alias("p"),
            "line",
        )
        .select(
            "o_orderkey",
            F.col("p.k").alias("k"),
            F.col("p.status").alias("status"),
            F.col("p.prio").alias("prio"),
            (F.to_csv(F.col("p")) == F.col("line")).cast("int").alias("roundtrip"),
        )
        .orderBy("o_orderkey")
    ),
    oracle="""
WITH l AS (
  SELECT o_orderkey,
         o_orderkey || ',' || o_orderstatus || ',' || o_orderpriority AS line
  FROM orders WHERE o_orderkey <= 200
)
SELECT o_orderkey,
       CAST(string_split(line, ',')[1] AS BIGINT) AS k,
       string_split(line, ',')[2] AS status,
       string_split(line, ',')[3] AS prio,
       CAST(1 AS INTEGER) AS roundtrip
FROM l
ORDER BY o_orderkey
""",
))


SPECS.append(QuerySpec(
    name="scalar_mask_format_funcs",
    doc="Data-masking and formatting scalars: mask() (upper->X, "
        "lower->x, digit->n), regexp_count, format_string('%s#%07d'); "
        "oracle spells them as regexp_replace chains / "
        "len(regexp_extract_all) / printf.",
    tags=("scalar",),
    build=lambda spark, sf: (
        spark.table("customer")
        .filter(F.col("c_custkey") <= 200)
        .select(
            "c_custkey",
            F.mask("c_name").alias("masked_name"),
            F.regexp_count("c_name", F.lit("[0-9]")).cast("int").alias("n_digits"),
            F.format_string("%s#%07d", "c_mktsegment", "c_custkey").alias("tag"),
        )
        .orderBy("c_custkey")
    ),
    oracle="""
SELECT c_custkey,
       regexp_replace(regexp_replace(regexp_replace(
         c_name, '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
         AS masked_name,
       CAST(len(regexp_extract_all(c_name, '[0-9]')) AS INTEGER) AS n_digits,
       printf('%s#%07d', c_mktsegment, c_custkey) AS tag
FROM customer
WHERE c_custkey <= 200
ORDER BY c_custkey
""",
))


SPECS.append(QuerySpec(
    name="array_posexplode_outer",
    doc="posexplode_outer: rows whose filtered token array is EMPTY "
        "survive with (NULL, NULL) — the outer-join form of the "
        "fan-out. Oracle uses LEFT JOIN LATERAL generate_series.",
    tags=("array",),
    build=lambda spark, sf: (
        spark.table("part")
        .filter(F.col("p_partkey") <= 100)
        .select(
            "p_partkey",
            F.filter(
                F.split("p_name", " "), lambda w: F.length(w) > 6
            ).alias("arr"),
        )
        .select(
            "p_partkey",
            F.posexplode_outer("arr").alias("pos", "tok"),
        )
        .select("p_partkey", F.col("pos").cast("int").alias("pos"), "tok")
        .orderBy("p_partkey", "pos")
    ),
    oracle="""
WITH p2 AS (
  SELECT p_partkey,
         list_filter(string_split(p_name, ' '), w -> length(w) > 6) AS arr
  FROM part WHERE p_partkey <= 100
), p3 AS (
  SELECT p_partkey,
         CASE WHEN len(arr) = 0
              THEN [{'pos': CAST(NULL AS INTEGER), 'tok': CAST(NULL AS VARCHAR)}]
              ELSE list_transform(arr, (x, i) -> {'pos': CAST(i - 1 AS INTEGER), 'tok': x})
         END AS pairs
  FROM p2
), ex AS (
  SELECT p_partkey, unnest(pairs) AS r FROM p3
)
SELECT p_partkey, r['pos'] AS pos, r['tok'] AS tok
FROM ex
ORDER BY p_partkey, pos
""",
))


SPECS.append(QuerySpec(
    name="map_zip_with_rollup",
    doc="map_from_entries + map_zip_with + explode round-trip: "
        "per-segment nation->count and nation->balance maps zipped "
        "into one combined value, exploded back sorted. Oracle "
        "computes the same cells directly from the group-by (maps are "
        "representation, not semantics).",
    tags=("map",),
    build=lambda spark, sf: (
        spark.table("customer")
        .join(
            spark.table("nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("c_mktsegment", "n_name")
        .agg(
            F.count("*").alias("n"),
            # integer cents, then floor of cents/100: a double SUM sits
            # exactly on an integer boundary for one sf0.01 group
            # (94201.00), where FLOOR flips with summation order
            # (review round 11 — the merge_conditional_partial class)
            F.floor(
                F.sum(F.round(F.col("c_acctbal") * 100).cast("long")) / 100
            ).cast("long").alias("s"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("n_name", "n")))
            ).alias("m1"),
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("n_name", "s")))
            ).alias("m2"),
        )
        .select(
            "c_mktsegment",
            F.explode(
                F.map_zip_with(
                    "m1", "m2", lambda k, a, b: a * 1_000_000 + b
                )
            ).alias("nation", "combined"),
        )
        .select(
            "c_mktsegment", "nation", F.col("combined").cast("bigint").alias("combined")
        )
        .orderBy("c_mktsegment", "nation")
    ),
    oracle="""
SELECT c_mktsegment, n_name AS nation,
       CAST(COUNT(*) * 1000000
            + FLOOR(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) / 100)
         AS BIGINT) AS combined
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY c_mktsegment, n_name
ORDER BY c_mktsegment, nation
""",
))


SPECS.append(QuerySpec(
    name="scalar_collation_ci",
    doc="Collated string semantics (Spark 4 COLLATE UNICODE_CI): case-"
        "insensitive distinct counts and grouping over mixed-case "
        "tokens; DuckDB side via lower() (equivalent on ASCII data).",
    tags=("scalar", "sql"),
    build=lambda spark, sf: (
        spark.sql("""
            SELECT p_brand,
                   COUNT(DISTINCT CAST(w AS STRING COLLATE UNICODE_CI)) AS n_ci,
                   COUNT(DISTINCT w) AS n_cs
            FROM (
              SELECT p_brand,
                     CASE WHEN p_partkey % 2 = 0 THEN upper(tok) ELSE tok END AS w
              FROM part LATERAL VIEW explode(split(p_name, ' ')) AS tok
              WHERE p_partkey <= 400
            )
            GROUP BY p_brand
            ORDER BY p_brand
        """)
        .select("p_brand", F.col("n_ci").cast("bigint").alias("n_ci"),
                F.col("n_cs").cast("bigint").alias("n_cs"))
    ),
    oracle="""
WITH w AS (
  SELECT p_brand,
         CASE WHEN p_partkey % 2 = 0 THEN upper(u.tok) ELSE u.tok END AS w
  FROM part, UNNEST(string_split(p_name, ' ')) AS u(tok)
  WHERE p_partkey <= 400
)
SELECT p_brand,
       CAST(COUNT(DISTINCT lower(w)) AS BIGINT) AS n_ci,
       CAST(COUNT(DISTINCT w) AS BIGINT) AS n_cs
FROM w
GROUP BY p_brand
ORDER BY p_brand
""",
))


SPECS.append(QuerySpec(
    name="agg_boolean_every_any",
    doc="Boolean aggregates bool_and/bool_or per order-priority "
        "shipping predicates, plus a deterministic representative key "
        "(MIN(o_orderkey) — a nondeterministic any_value could never "
        "hash-match across engines). Identical semantics both engines.",
    tags=("agg",),
    sql="""
SELECT o_orderpriority,
       bool_and(o_totalprice > 1000) AS all_over_1k,
       bool_or(o_orderstatus = 'F') AS any_finished,
       CAST(MIN(o_orderkey) AS BIGINT) AS first_key
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
))


SPECS.append(QuerySpec(
    name="scalar_pad_overlay_funcs",
    doc="String padding/splicing scalars: lpad, rpad, overlay, "
        "substring_index-equivalent (split_part); identical results "
        "via DuckDB's printf-free equivalents.",
    tags=("scalar",),
    build=lambda spark, sf: (
        spark.table("customer")
        .filter(F.col("c_custkey") <= 200)
        .select(
            "c_custkey",
            F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("padded_key"),
            F.rpad("c_mktsegment", 12, ".").alias("seg_padded"),
            F.overlay("c_name", F.lit("XX"), 10, 2).alias("name_spliced"),
            F.substring_index("c_name", "#", 1).alias("name_prefix"),
        )
        .orderBy("c_custkey")
    ),
    oracle="""
SELECT c_custkey,
       lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded_key,
       rpad(c_mktsegment, 12, '.') AS seg_padded,
       substring(c_name, 1, 9) || 'XX' || substring(c_name, 12)
         AS name_spliced,
       string_split(c_name, '#')[1] AS name_prefix
FROM customer
WHERE c_custkey <= 200
ORDER BY c_custkey
""",
))


SPECS.append(QuerySpec(
    name="sort_limit_offset",
    doc="Keyset-free pagination: ORDER BY ... LIMIT 20 OFFSET 40 "
        "(Spark 3.4+ OFFSET; identical SQL both engines; fully "
        "deterministic order via unique key tiebreak).",
    tags=("sort", "sql"),
    sql="""
SELECT o_orderkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20 OFFSET 40
""",
))


SPECS.append(QuerySpec(
    name="agg_count_if_filtered",
    doc="count_if conditional counting (identical SQL both engines) "
        "alongside the FILTER clause form it sugars. DuckDB types "
        "count_if as HUGEINT (int128) where Spark returns BIGINT and "
        "the driver's value hash is type-tagged, so the shared SQL "
        "casts explicitly (r6 verdict, What's wrong #1).",
    tags=("agg", "sql"),
    sql="""
SELECT o_orderstatus,
       CAST(count_if(o_totalprice > 150000) AS BIGINT) AS n_large,
       COUNT(*) FILTER (WHERE o_orderpriority < '3') AS n_urgent,
       COUNT(*) AS n
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
))


SPECS.append(QuerySpec(
    name="sql_pipe_syntax",
    doc="SQL pipe syntax (Spark 4.0 |> operators): FROM |> WHERE |> "
        "JOIN |> AGGREGATE ... GROUP BY |> WHERE (post-agg HAVING) |> "
        "ORDER BY, compiled to the same logical plan as the nested-SQL "
        "oracle — syntax sugar, zero plan cost.",
    tags=("sql",),
    build=lambda spark, sf: spark.sql("""
FROM lineitem
|> WHERE l_shipdate >= DATE '1994-01-01'
|> JOIN orders ON l_orderkey = o_orderkey
|> AGGREGATE COUNT(*) AS n_items,
             CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)
                  AS DOUBLE) AS revenue
   GROUP BY o_orderpriority
|> WHERE n_items > 100
|> ORDER BY o_orderpriority
"""),
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n_items,
       CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE)
         AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= DATE '1994-01-01'
GROUP BY o_orderpriority
HAVING COUNT(*) > 100
ORDER BY o_orderpriority
""",
))


SPECS.append(QuerySpec(
    name="sql_scripting_control_flow",
    doc="SQL scripting (Spark 4.1 BEGIN...END): DECLARE'd variables, a "
        "WHILE loop, and IF/ELSE branching compute a deterministic "
        "result entirely in the script interpreter; the oracle is the "
        "closed-form VALUES. Control flow is driver-side orchestration "
        "of ordinary plans — zero new physical operators.",
    tags=("sql",),
    build=lambda spark, sf: spark.sql("""
BEGIN
  DECLARE total BIGINT DEFAULT 0;
  DECLARE odd_sum BIGINT DEFAULT 0;
  DECLARE i INT DEFAULT 1;
  WHILE i <= 10 DO
    SET total = total + i;
    IF i % 2 = 1 THEN
      SET odd_sum = odd_sum + i;
    END IF;
    SET i = i + 1;
  END WHILE;
  SELECT total, odd_sum;
END
"""),
    oracle="""
SELECT CAST(55 AS BIGINT) AS total, CAST(25 AS BIGINT) AS odd_sum
""",
))

SPECS.append(QuerySpec(
    name="agg_listagg_within_group",
    doc="listagg(...) WITHIN GROUP (ORDER BY ...) (Spark 4.1 / ANSI): "
        "deterministic ordered string aggregation per group; DuckDB "
        "oracle via string_agg(... ORDER BY ...).",
    tags=("agg", "sql"),
    build=lambda spark, sf: spark.sql("""
SELECT o_orderstatus,
       listagg(DISTINCT o_orderpriority, '|')
         WITHIN GROUP (ORDER BY o_orderpriority) AS priorities,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""),
    oracle="""
SELECT o_orderstatus,
       string_agg(DISTINCT o_orderpriority, '|' ORDER BY o_orderpriority)
         AS priorities,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
))


SPECS.append(QuerySpec(
    name="agg_approx_top_k",
    doc="approx_top_k heavy-hitters sketch (Spark 3.5+): with capacity "
        "far above the domain the counts are exact, so the exploded "
        "top-5 (all priorities) compares exactly against GROUP BY "
        "counts; re-sorted by (count DESC, item) so tie order is "
        "engine-independent. At scale the sketch is one linear pass, "
        "mergeable across partitions — COUNT GROUP BY without the "
        "key shuffle.",
    tags=("agg", "sketch"),
    build=lambda spark, sf: spark.sql("""
SELECT t.item AS item, CAST(t.count AS BIGINT) AS n
FROM (
  SELECT explode(approx_top_k(o_orderpriority, 5, 65536)) AS t FROM orders
)
ORDER BY n DESC, item
"""),
    oracle="""
SELECT o_orderpriority AS item, CAST(COUNT(*) AS BIGINT) AS n
FROM orders
GROUP BY o_orderpriority
ORDER BY n DESC, item
""",
))

def _compression_oracle() -> str:
    """Computed VALUES oracle: DuckDB has no zlib, so the expected rows
    are computed driver-side with pyarrow + stdlib zlib (the same
    fixed-point arithmetic as the operator) and inlined as a VALUES
    table. This verifies the SPARK side end-to-end — Arrow batching,
    UDF signature, byte-vs-char denominators, fixed-point div — with a
    full rows+schema+hash driver check instead of the weaker rows-only
    form. sf dir matches the driver's oracle run (sf0.01 default,
    SPARK_GRAFT_ORACLE_SF_DIR override used by the rehearsal harness)."""
    import os as _os
    import zlib as _zlib

    import pyarrow.parquet as _pq

    sf_dir = _os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    t = _pq.read_table(
        _os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    )
    rows = []
    for doc_id, text in zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()):
        raw = len(text.encode("utf-8"))
        z = len(_zlib.compress(text.encode("utf-8"), 6))
        rows.append(f"({doc_id}, {raw}, {z}, {z * 1000 // max(raw, 1)})")
    values = ",\n".join(rows)
    return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_bytes_raw AS BIGINT) AS n_bytes_raw,
       CAST(n_bytes_zlib AS BIGINT) AS n_bytes_zlib,
       CAST(ratio_pm AS BIGINT) AS ratio_pm
FROM (VALUES
{values}
) t(doc_id, n_bytes_raw, n_bytes_zlib, ratio_pm)
ORDER BY doc_id
"""


SPECS.append(QuerySpec(
    name="text_compression_ratio",
    doc="zlib compression ratio per document (CCNet/RefinedWeb-style "
        "redundancy signal): repetitive boilerplate compresses far "
        "below natural prose. Arrow-batched pandas UDF over stdlib "
        "zlib, pure map stage. DuckDB has no zlib, so the oracle is a "
        "computed VALUES table (pyarrow + stdlib zlib driver-side) — "
        "full rows+schema+hash parity instead of rows-only.",
    tags=("llm", "text", "udf"),
    build=lambda spark, sf: __import__(
        "transactional_datalake_using_amazon_datafirehose_iceberg_spark.operators.text",
        fromlist=["compression_ratio"],
    ).compression_ratio(spark.table("documents")).orderBy("doc_id"),
    oracle=_compression_oracle,
))

def _sql_udf_build(spark, sf):
    """SQL-defined functions (Spark 4.1 CREATE FUNCTION ... RETURN):
    a scalar SQL UDF and a table-valued SQL UDF composed in one query.
    Both inline into the plan (Catalyst sees the expanded expression /
    subquery — no Python, no serialization boundary), so this is the
    zero-cost extension point; the oracle states the same logic
    inline."""
    spark.sql("""
CREATE OR REPLACE TEMPORARY FUNCTION order_band(p DOUBLE) RETURNS STRING
RETURN CASE WHEN p >= 200000 THEN 'high'
            WHEN p >= 100000 THEN 'mid' ELSE 'low' END
""")
    spark.sql("""
CREATE OR REPLACE TEMPORARY FUNCTION status_orders(st STRING)
RETURNS TABLE (o_orderkey BIGINT, o_totalprice DOUBLE)
RETURN SELECT o_orderkey, CAST(o_totalprice AS DOUBLE)
       FROM orders WHERE o_orderstatus = st
""")
    return spark.sql("""
SELECT order_band(o_totalprice) AS band,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key
FROM status_orders('F')
GROUP BY order_band(o_totalprice)
ORDER BY band
""")


SPECS.append(QuerySpec(
    name="sql_udf_create_function",
    doc="SQL-defined scalar + table-valued functions (Spark 4.1 CREATE "
        "FUNCTION ... RETURN), composed in one query; both inline into "
        "the Catalyst plan (no Python boundary). Oracle states the same "
        "logic inline.",
    tags=("sql", "udf"),
    build=_sql_udf_build,
    oracle="""
SELECT CASE WHEN o_totalprice >= 200000 THEN 'high'
            WHEN o_totalprice >= 100000 THEN 'mid' ELSE 'low' END AS band,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY 1
ORDER BY band
""",
))

def _runtime_bloom_build(spark, sf):
    """Runtime bloom-filter join pruning (Spark InjectRuntimeFilter —
    the row-level cousin of dynamic partition pruning): a selective
    filter on the dimension side builds a bloom at runtime that is
    pushed into the FACT-side scan as might_contain(xxhash64(key)), so
    fact rows that cannot join are dropped before the shuffle. At
    100 TB this is THE lever for selective dim-fact shuffle joins —
    shuffle volume scales with the SEMI-JOINED fact side, not the full
    scan. Two conf overrides make the mechanism deterministic at
    fixture scale, both restored after the run: broadcast is disabled
    (a broadcast join needs no runtime filter — at real scale this
    pair exceeds any broadcast threshold) and the application-side
    size threshold drops to 0 (its 10 GB production default exists
    precisely because a tiny fact scan isn't worth filtering). The
    spec returns the join aggregate PLUS the plan-derived injection
    proof, so the driver hash-checks both the result and the
    mechanism."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = spark.sql("""
SELECT l.l_orderkey,
       CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT) AS cents
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT'
""")
        injected = int(
            "might_contain"
            in df._jdf.queryExecution().optimizedPlan().toString()
        )
        row = df.agg(
            F.count("*").alias("n"), F.sum("cents").alias("s")
        ).collect()[0]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    return spark.createDataFrame(
        [("1_join_rows", row["n"]), ("2_revenue_cents", row["s"]),
         ("3_runtime_bloom_injected", injected)],
        "fact string, n bigint",
    ).orderBy("fact")


SPECS.append(QuerySpec(
    name="join_runtime_bloom_filter",
    doc="Runtime bloom-filter join pruning (InjectRuntimeFilter): a "
        "selective dimension filter builds a runtime bloom pushed into "
        "the fact-side scan (might_contain), shrinking shuffle volume "
        "to the semi-joined rows — the scale lever for selective "
        "dim-fact shuffle joins. Result aggregate plus plan-derived "
        "injection proof; oracle recomputes the aggregate and pins the "
        "proof.",
    tags=("join", "scale"),
    build=_runtime_bloom_build,
    oracle="""
SELECT fact, CAST(n AS BIGINT) AS n FROM (
  SELECT '1_join_rows' AS fact, COUNT(*) AS n
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderpriority = '1-URGENT'
  UNION ALL SELECT '2_revenue_cents',
    SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT))
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderpriority = '1-URGENT'
  UNION ALL SELECT '3_runtime_bloom_injected', 1
) ORDER BY fact
""",
))
