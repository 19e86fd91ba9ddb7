"""Driver-facing warehouse (TPC-H-shaped) queries with DuckDB oracles.

All money aggregation is integer cents (see ``operators.warehouse``);
date cutoffs are integer epoch-nano literals shared between both
engines, so every output column is BIGINT/VARCHAR — nothing for the
value hash to diverge on.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .driver_queries import QueryFn
from .entrypoints import read_table
from .operators import warehouse as WH


def _t(spark, sf_dir, name) -> DataFrame:
    return read_table(spark, sf_dir, name)


def q_q1(spark, sf_dir):
    return WH.q1_pricing_summary(_t(spark, sf_dir, "lineitem"))


def q_q3(spark, sf_dir):
    return WH.q3_shipping_priority(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
    )


def q_q4(spark, sf_dir):
    return WH.q4_order_priority(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    )


def q_q5(spark, sf_dir):
    return WH.q5_local_supplier_volume(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


def q_q10(spark, sf_dir):
    return WH.q10_returned_items(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
    )


def q_rollup(spark, sf_dir):
    return WH.sales_rollup(_t(spark, sf_dir, "lineitem"))


def q_integrity(spark, sf_dir):
    return WH.integrity_audit(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    )


def q_q6(spark, sf_dir):
    return WH.q6_forecast_revenue(_t(spark, sf_dir, "lineitem"))


def q_q13(spark, sf_dir):
    return WH.q13_order_distribution(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "customer")
    )


def q_q14(spark, sf_dir):
    return WH.q14_promo_revenue(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


def warehouse_queries() -> dict[str, QueryFn]:
    # Single literal registry (callables defined throughout the module
    # — resolved at call time, after the module has fully loaded).
    return {
        "wh_q1_pricing_summary": q_q1,
        "wh_q3_shipping_priority": q_q3,
        "wh_q4_order_priority": q_q4,
        "wh_q5_local_supplier_volume": q_q5,
        "wh_q10_returned_items": q_q10,
        "wh_sales_rollup": q_rollup,
        "wh_integrity_audit": q_integrity,
        "wh_q6_forecast_revenue": q_q6,
        "wh_q13_order_distribution": q_q13,
        "wh_q14_promo_revenue": q_q14,
        "wh_sales_cube": q_cube,
        "wh_sales_grouping_sets": q_grouping_sets,
        "wh_yoy_nation_growth": q_yoy_growth,
        "wh_cohort_ltv": q_cohort_ltv,
        "wh_ship_delay_percentiles": q_ship_delay_percentiles,
        "wh_market_basket": q_market_basket,
        "wh_supplier_scorecard": q_supplier_scorecard,
        "wh_customer_migration": q_customer_migration,
        "wh_q7_nation_volume": q_q7,
        "wh_q8_market_share": q_q8,
        "wh_q9_product_profit": q_q9,
        "wh_q15_top_supplier": q_q15,
        "wh_q17_small_qty_revenue": q_q17,
        "wh_q18_large_volume_customers": q_q18,
        "wh_q19_disjunctive_revenue": q_q19,
        "wh_q22_dormant_customers": q_q22,
        "wh_abc_classification": q_abc,
        "wh_customer_rfm": q_rfm,
        "wh_priority_month_pivot": q_priority_pivot,
        "wh_q2_min_cost_supplier": q_q2,
        "wh_q11_important_parts": q_q11,
        "wh_q12_late_shipments": q_q12,
        "wh_q12_bucketed": q_q12_bucketed,
        "wh_q16_supplier_part_counts": q_q16,
        "wh_q20_excess_shippers": q_q20,
        "wh_q21_waiting_suppliers": q_q21,
        "wh_bloom_prejoin_audit": q_bloom,
        "wh_merge_upsert": q_merge,
        "wh_zorder_layout": q_zorder,
        "wh_join_size_audit": q_join_audit,
    }


_REV = "CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)"

_Q1_SQL = f"""
WITH li AS (
  SELECT l_returnflag, l_linestatus,
         CAST(round(l_quantity * 100) AS BIGINT) AS qty_c,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
         {_REV} AS disc_price_c,
         CAST(round(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) * 100)
              AS BIGINT) AS charge_c,
         CAST(round(l_discount * 10000) AS BIGINT) AS disc_bp
  FROM lineitem WHERE (epoch_ns(l_shipdate) // 1000000000) <= {WH.Q1_SHIP_CUTOFF}
),
g AS (
  SELECT l_returnflag, l_linestatus,
         sum(qty_c) AS sum_qty_c, sum(price_c) AS sum_base_price_c,
         sum(disc_price_c) AS sum_disc_price_c, sum(charge_c) AS sum_charge_c,
         sum(disc_bp) AS sum_disc_bp, count(*) AS count_order
  FROM li GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus,
       CAST(sum_qty_c AS BIGINT) AS sum_qty_c,
       CAST(sum_base_price_c AS BIGINT) AS sum_base_price_c,
       CAST(sum_disc_price_c AS BIGINT) AS sum_disc_price_c,
       CAST(sum_charge_c AS BIGINT) AS sum_charge_c,
       CAST((sum_qty_c * 100) // count_order AS BIGINT) AS avg_qty_cc,
       CAST((sum_base_price_c * 100) // count_order AS BIGINT) AS avg_price_cc,
       CAST(sum_disc_bp // count_order AS BIGINT) AS avg_disc_bp,
       count_order
FROM g"""

_Q3_SQL = f"""
SELECT o_orderkey, (epoch_ns(o_orderdate) // 1000000000) AS o_orderdate_sec, o_orderpriority,
       CAST(sum({_REV}) AS BIGINT) AS revenue_c
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = '{WH.Q3_SEGMENT}'
  AND (epoch_ns(o_orderdate) // 1000000000) < {WH.Q3_DATE}
  AND (epoch_ns(l_shipdate) // 1000000000) > {WH.Q3_DATE}
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue_c DESC, o_orderkey
LIMIT 10"""

_Q4_SQL = f"""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE (epoch_ns(o_orderdate) // 1000000000) >= {WH.Q4_LO} AND (epoch_ns(o_orderdate) // 1000000000) < {WH.Q4_HI}
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority"""

_Q5_SQL = f"""
SELECT n_name, CAST(sum({_REV}) AS BIGINT) AS revenue_c
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = '{WH.Q5_REGION}'
  AND (epoch_ns(o_orderdate) // 1000000000) >= {WH.Q5_LO} AND (epoch_ns(o_orderdate) // 1000000000) < {WH.Q5_HI}
GROUP BY n_name"""

_Q10_SQL = f"""
WITH per_cust AS (
  SELECT o_custkey, CAST(sum({_REV}) AS BIGINT) AS revenue_c
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
    AND (epoch_ns(o_orderdate) // 1000000000) >= {WH.Q10_LO}
    AND (epoch_ns(o_orderdate) // 1000000000) < {WH.Q10_HI}
  GROUP BY o_custkey
)
SELECT c_custkey, c_name, c_nationkey, revenue_c
FROM per_cust JOIN customer ON o_custkey = c_custkey
ORDER BY revenue_c DESC, c_custkey
LIMIT 20"""


_ROLLUP_SQL = f"""
SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
       coalesce(l_linestatus, 'ALL') AS l_linestatus,
       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
         AS grp_level,
       count(*) AS n_items,
       CAST(sum({_REV}) AS BIGINT) AS sum_disc_price_c
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)"""


_INTEGRITY_SQL = """
WITH o AS (SELECT DISTINCT o_orderkey FROM orders),
l AS (SELECT DISTINCT l_orderkey FROM lineitem),
j AS (SELECT * FROM o FULL OUTER JOIN l ON o_orderkey = l_orderkey)
SELECT count(CASE WHEN o_orderkey IS NOT NULL AND l_orderkey IS NOT NULL THEN 1 END)
         AS n_matched,
       count(CASE WHEN l_orderkey IS NULL THEN 1 END) AS n_order_only,
       count(CASE WHEN o_orderkey IS NULL THEN 1 END) AS n_item_only
FROM j"""


_Q6_SQL = f"""
SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT))
            AS BIGINT) AS revenue_c,
       count(*) AS n_items
FROM lineitem
WHERE (epoch_ns(l_shipdate) // 1000000000) >= {WH.Q6_LO}
  AND (epoch_ns(l_shipdate) // 1000000000) < {WH.Q6_HI}
  AND CAST(round(l_discount * 10000) AS BIGINT) BETWEEN 500 AND 700
  AND l_quantity < 24.0"""

_Q13_SQL = """
WITH per_cust AS (
  SELECT c_custkey, count(o_custkey) AS n_orders
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
SELECT n_orders, count(*) AS n_customers FROM per_cust GROUP BY n_orders"""


_Q14_SQL = f"""
WITH j AS (
  SELECT p.p_type, {_REV} AS rev_c
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE (epoch_ns(l.l_shipdate) // 1000000000) >= {WH.Q14_LO}
    AND (epoch_ns(l.l_shipdate) // 1000000000) < {WH.Q14_HI}
),
g AS (
  SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev_c ELSE 0 END) AS BIGINT)
           AS promo_revenue_c,
         CAST(sum(rev_c) AS BIGINT) AS total_revenue_c
  FROM j
)
SELECT promo_revenue_c, total_revenue_c,
       CAST((promo_revenue_c * 1000000) // total_revenue_c AS BIGINT)
         AS promo_share_ppm
FROM g"""


def warehouse_oracle_sql() -> dict[str, str]:
    return {
        "wh_q1_pricing_summary": _Q1_SQL,
        "wh_q3_shipping_priority": _Q3_SQL,
        "wh_q4_order_priority": _Q4_SQL,
        "wh_q5_local_supplier_volume": _Q5_SQL,
        "wh_q10_returned_items": _Q10_SQL,
        "wh_sales_rollup": _ROLLUP_SQL,
        "wh_integrity_audit": _INTEGRITY_SQL,
        "wh_q6_forecast_revenue": _Q6_SQL,
        "wh_q13_order_distribution": _Q13_SQL,
        "wh_q14_promo_revenue": _Q14_SQL,
        # later additions (constants/builders defined below — evaluated
        # when this function is CALLED, after the module has loaded)
        "wh_sales_cube": _CUBE_SQL,
        "wh_sales_grouping_sets": _GROUPING_SETS_SQL,
        "wh_yoy_nation_growth": _YOY_SQL,
        "wh_cohort_ltv": _COHORT_LTV_SQL,
        "wh_ship_delay_percentiles": _ship_delay_pcts_sql(),
        "wh_market_basket": _market_basket_sql(),
        "wh_supplier_scorecard": _supplier_scorecard_sql(),
        "wh_customer_migration": _customer_migration_sql(),
        "wh_q7_nation_volume": _Q7_SQL,
        "wh_q8_market_share": _Q8_SQL,
        "wh_q9_product_profit": _Q9_SQL,
        "wh_q15_top_supplier": _Q15_SQL,
        "wh_q17_small_qty_revenue": _Q17_SQL,
        "wh_q18_large_volume_customers": _Q18_SQL,
        "wh_q19_disjunctive_revenue": _q19_sql(),
        "wh_q22_dormant_customers": _Q22_SQL,
        "wh_abc_classification": _ABC_SQL,
        "wh_customer_rfm": _RFM_SQL,
        "wh_priority_month_pivot": _priority_pivot_sql(),
        "wh_q2_min_cost_supplier": _Q2_SQL,
        "wh_q11_important_parts": _Q11_SQL,
        "wh_q12_late_shipments": _Q12_SQL,
        "wh_q12_bucketed": _Q12_SQL,
        "wh_q16_supplier_part_counts": _Q16_SQL,
        "wh_q20_excess_shippers": _Q20_SQL,
        "wh_q21_waiting_suppliers": _Q21_SQL,
        "wh_bloom_prejoin_audit": _bloom_sql(),
        "wh_merge_upsert": _MERGE_SQL,
        "wh_zorder_layout": _zorder_sql(),
        "wh_join_size_audit": _JOIN_AUDIT_SQL,
    }


# ---------------------------------------------------------------------------
# Round-5 additions: Q7/Q8/Q9/Q15/Q17/Q18/Q19/Q22 plan shapes.
# ---------------------------------------------------------------------------


def q_cube(spark, sf_dir):
    return WH.sales_cube(_t(spark, sf_dir, "lineitem"))


def q_grouping_sets(spark, sf_dir):
    return WH.sales_grouping_sets(_t(spark, sf_dir, "lineitem"))


def q_yoy_growth(spark, sf_dir):
    return WH.yoy_nation_growth(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "nation"),
    )


# Spark's `div` truncates toward zero; DuckDB's `//` floors. YoY deltas
# go negative, so the oracle mirrors truncation explicitly.
_YOY_SQL = f"""
WITH yearly AS (
  SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(sum({_REV}) AS BIGINT) AS revenue_c
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, year(o_orderdate)
),
lagged AS (
  SELECT n_name, o_year, revenue_c,
         lag(revenue_c) OVER (PARTITION BY n_name ORDER BY o_year)
           AS prev_revenue_c
  FROM yearly
)
SELECT n_name, o_year, revenue_c, prev_revenue_c,
       CASE WHEN prev_revenue_c > 0 THEN
         CASE WHEN revenue_c - prev_revenue_c < 0
              THEN -(((prev_revenue_c - revenue_c) * 1000000)
                     // prev_revenue_c)
              ELSE ((revenue_c - prev_revenue_c) * 1000000)
                     // prev_revenue_c END
       END AS yoy_delta_ppm
FROM lagged"""


def q_cohort_ltv(spark, sf_dir):
    return WH.cohort_ltv(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    )


_COHORT_LTV_SQL = f"""
WITH per_cy AS (
  SELECT o_custkey, CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(sum({_REV}) AS BIGINT) AS rev_c
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey, year(o_orderdate)
),
first AS (
  SELECT o_custkey, min(o_year) AS cohort_year FROM per_cy
  GROUP BY o_custkey
),
tri AS (
  SELECT cohort_year, o_year - cohort_year AS age,
         CAST(count(*) AS BIGINT) AS n_active_customers,
         CAST(sum(rev_c) AS BIGINT) AS revenue_c
  FROM per_cy JOIN first USING (o_custkey)
  GROUP BY cohort_year, o_year - cohort_year
),
win AS (
  SELECT cohort_year, age, n_active_customers, revenue_c,
         sum(revenue_c) OVER (PARTITION BY cohort_year ORDER BY age
                              ROWS UNBOUNDED PRECEDING) AS cum_revenue_c,
         max(CASE WHEN age = 0 THEN n_active_customers END)
           OVER (PARTITION BY cohort_year) AS cohort_size
  FROM tri
)
SELECT cohort_year, age, n_active_customers, revenue_c,
       CAST(cum_revenue_c AS BIGINT) AS cum_revenue_c,
       CAST(cohort_size AS BIGINT) AS cohort_size,
       CAST(cum_revenue_c // cohort_size AS BIGINT) AS avg_ltv_c
FROM win"""


def q_q7(spark, sf_dir):
    return WH.q7_nation_volume(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
    )


def q_q8(spark, sf_dir):
    return WH.q8_market_share(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
        _t(spark, sf_dir, "part"),
    )


def q_q9(spark, sf_dir):
    return WH.q9_product_profit(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "part"),
    )


def q_q15(spark, sf_dir):
    return WH.q15_top_supplier(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "supplier")
    )


def q_q17(spark, sf_dir):
    return WH.q17_small_qty_revenue(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


def q_q18(spark, sf_dir):
    return WH.q18_large_volume_customers(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
    )


def q_q19(spark, sf_dir):
    return WH.q19_disjunctive_revenue(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


def q_q22(spark, sf_dir):
    return WH.q22_dormant_customers(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "customer")
    )


def _esec(col: str) -> str:
    return f"(epoch_ns({col}) // 1000000000)"


_CUBE_SQL = f"""
SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
       coalesce(l_linestatus, 'ALL') AS l_linestatus,
       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
         AS grp_level,
       count(*) AS n_items,
       CAST(sum({_REV}) AS BIGINT) AS sum_disc_price_c
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)"""


_GROUPING_SETS_SQL = f"""
WITH li AS (
  SELECT l_returnflag, l_linestatus,
         CAST(year(l_shipdate) AS BIGINT) AS ship_year,
         {_REV} AS rev_c
  FROM lineitem
)
SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
       coalesce(l_linestatus, 'ALL') AS l_linestatus,
       CAST(coalesce(ship_year, -1) AS BIGINT) AS ship_year,
       CAST(grouping(l_returnflag) * 4 + grouping(l_linestatus) * 2
            + grouping(ship_year) AS BIGINT) AS grp_level,
       count(*) AS n_items,
       CAST(sum(rev_c) AS BIGINT) AS sum_disc_price_c
FROM li
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (ship_year), ())"""


_Q7_SQL = f"""
WITH nat2 AS (
  SELECT n_nationkey, n_name FROM nation
  WHERE n_name IN ('{WH.Q7_NATION_A}', '{WH.Q7_NATION_B}')
),
li AS (
  SELECT l_orderkey, l_suppkey, CAST(year(l_shipdate) AS BIGINT) AS l_year,
         {_REV} AS rev_c
  FROM lineitem
  WHERE {_esec('l_shipdate')} >= {WH.Q7_LO} AND {_esec('l_shipdate')} < {WH.Q7_HI}
)
SELECT supp_nation, cust_nation, l_year,
       CAST(sum(rev_c) AS BIGINT) AS revenue_c
FROM li
JOIN orders ON l_orderkey = o_orderkey
JOIN (SELECT c_custkey, n_name AS cust_nation
      FROM customer JOIN nat2 ON c_nationkey = n_nationkey) cn
  ON o_custkey = c_custkey
JOIN (SELECT s_suppkey, n_name AS supp_nation
      FROM supplier JOIN nat2 ON s_nationkey = n_nationkey) sn
  ON l_suppkey = s_suppkey
WHERE (supp_nation = '{WH.Q7_NATION_A}' AND cust_nation = '{WH.Q7_NATION_B}')
   OR (supp_nation = '{WH.Q7_NATION_B}' AND cust_nation = '{WH.Q7_NATION_A}')
GROUP BY supp_nation, cust_nation, l_year"""


_Q8_SQL = f"""
WITH cust AS (
  SELECT c_custkey FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = '{WH.Q8_REGION}'
),
supp AS (
  SELECT s_suppkey, n_name AS supp_nation
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
),
j AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, supp_nation, {_REV} AS rev_c
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_type = '{WH.Q8_TYPE}'
  JOIN orders ON l_orderkey = o_orderkey
  JOIN cust ON o_custkey = c_custkey
  JOIN supp ON l_suppkey = s_suppkey
  WHERE {_esec('o_orderdate')} >= {WH.Q8_LO} AND {_esec('o_orderdate')} < {WH.Q8_HI}
),
g AS (
  SELECT o_year,
         CAST(sum(CASE WHEN supp_nation = '{WH.Q8_NATION}' THEN rev_c ELSE 0 END)
              AS BIGINT) AS nation_revenue_c,
         CAST(sum(rev_c) AS BIGINT) AS total_revenue_c
  FROM j GROUP BY o_year
)
SELECT o_year, nation_revenue_c, total_revenue_c,
       CAST((nation_revenue_c * 1000000) // total_revenue_c AS BIGINT) AS share_ppm
FROM g"""


_Q9_SQL = f"""
SELECT supp_nation, l_year,
       CAST(sum(rev_c) AS BIGINT) AS revenue_c,
       count(*) AS n_items
FROM (
  SELECT n_name AS supp_nation, CAST(year(l_shipdate) AS BIGINT) AS l_year,
         {_REV} AS rev_c
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%{WH.Q9_NAME_FRAGMENT}%'
)
GROUP BY supp_nation, l_year"""


_Q15_SQL = f"""
WITH rev AS (
  SELECT l_suppkey, CAST(sum({_REV}) AS BIGINT) AS total_revenue_c
  FROM lineitem
  WHERE {_esec('l_shipdate')} >= {WH.Q15_LO} AND {_esec('l_shipdate')} < {WH.Q15_HI}
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue_c
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue_c = (SELECT max(total_revenue_c) FROM rev)
ORDER BY s_suppkey"""


_Q17_SQL = f"""
WITH li AS (
  SELECT l_partkey, CAST(round(l_quantity * 100) AS BIGINT) AS q_c,
         {_REV} AS rev_c
  FROM lineitem
),
pp AS (
  SELECT l_partkey AS pk, sum(q_c) AS sum_q_c, count(*) AS n_lines
  FROM li GROUP BY l_partkey
)
SELECT count(*) AS n_small_lines, CAST(sum(rev_c) AS BIGINT) AS revenue_c
FROM li JOIN pp ON l_partkey = pk
WHERE q_c * n_lines * {WH.Q17_DEN} < sum_q_c * {WH.Q17_NUM}"""


_Q18_SQL = f"""
WITH big AS (
  SELECT l_orderkey,
         CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS total_qty_c
  FROM lineitem GROUP BY l_orderkey
  HAVING total_qty_c > {WH.Q18_QTY_C}
)
SELECT c_custkey, c_name, o_orderkey,
       {_esec('o_orderdate')} AS o_orderdate_sec, total_qty_c
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty_c DESC, o_orderkey
LIMIT 50"""


def _q19_sql() -> str:
    clauses = []
    for brand, slo, shi, qlo, qhi in WH.Q19_BANDS:
        clauses.append(
            f"(p_brand = '{brand}' AND p_size BETWEEN {slo} AND {shi} "
            f"AND q_c BETWEEN {qlo} AND {qhi})"
        )
    disj = "\n   OR ".join(clauses)
    return f"""
WITH li AS (
  SELECT l_partkey, CAST(round(l_quantity * 100) AS BIGINT) AS q_c,
         {_REV} AS rev_c
  FROM lineitem
)
SELECT count(*) AS n_lines, CAST(sum(rev_c) AS BIGINT) AS revenue_c
FROM li JOIN part ON l_partkey = p_partkey
WHERE {disj}"""


_Q22_SQL = f"""
WITH cust AS (
  SELECT c_custkey, c_nationkey,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
  FROM customer
),
th AS (
  SELECT sum(bal_c) AS sum_pos_c, count(*) AS n_pos FROM cust WHERE bal_c > 0
),
rich AS (
  SELECT c_custkey, c_nationkey, bal_c FROM cust, th
  WHERE bal_c * n_pos > sum_pos_c
),
recent AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE {_esec('o_orderdate')} >= {WH.Q22_CUTOFF}
)
SELECT c_nationkey, count(*) AS n_customers,
       CAST(sum(bal_c) AS BIGINT) AS sum_acctbal_c
FROM rich
WHERE NOT EXISTS (SELECT 1 FROM recent WHERE o_custkey = rich.c_custkey)
GROUP BY c_nationkey"""


def q_abc(spark, sf_dir):
    return WH.abc_classification(_t(spark, sf_dir, "lineitem"))


_ABC_SQL = f"""
WITH per_part AS (
  SELECT l_partkey, CAST(sum({_REV}) AS BIGINT) AS revenue_c
  FROM lineitem GROUP BY l_partkey
),
t AS (SELECT CAST(sum(revenue_c) AS BIGINT) AS total_c FROM per_part),
c AS (
  SELECT l_partkey, revenue_c,
         CAST((sum(revenue_c) OVER (ORDER BY revenue_c DESC, l_partkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               * 1000000) // total_c AS BIGINT) AS cum_share_ppm
  FROM per_part, t
)
SELECT l_partkey, revenue_c, cum_share_ppm,
       CASE WHEN cum_share_ppm <= {WH.ABC_A_PPM} THEN 'A'
            WHEN cum_share_ppm <= {WH.ABC_B_PPM} THEN 'B'
            ELSE 'C' END AS abc_class
FROM c"""


def q_rfm(spark, sf_dir):
    return WH.customer_rfm(_t(spark, sf_dir, "orders"))


_RFM_SQL = f"""
WITH o AS (
  SELECT o_custkey, {_esec('o_orderdate')} AS d_sec,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
  FROM orders
),
per_cust AS (
  SELECT o_custkey, max(d_sec) AS last_sec, count(*) AS frequency,
         CAST(sum(price_c) AS BIGINT) AS monetary_c
  FROM o GROUP BY o_custkey
),
mx AS (SELECT max(last_sec) AS corpus_max_sec FROM per_cust),
base AS (
  SELECT o_custkey,
         CAST((corpus_max_sec - last_sec) // 86400 AS BIGINT) AS recency_days,
         frequency, monetary_c
  FROM per_cust, mx
),
scored AS (
  SELECT *,
         CAST(ntile({WH.RFM_BINS}) OVER (ORDER BY recency_days DESC, o_custkey)
              AS BIGINT) AS r_score,
         CAST(ntile({WH.RFM_BINS}) OVER (ORDER BY frequency, o_custkey)
              AS BIGINT) AS f_score,
         CAST(ntile({WH.RFM_BINS}) OVER (ORDER BY monetary_c, o_custkey)
              AS BIGINT) AS m_score
  FROM base
)
SELECT o_custkey, recency_days, frequency, monetary_c,
       r_score, f_score, m_score,
       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
         || CAST(m_score AS VARCHAR) AS rfm_segment
FROM scored"""


def q_priority_pivot(spark, sf_dir):
    return WH.priority_month_pivot(_t(spark, sf_dir, "orders"))


def _priority_pivot_sql() -> str:
    safe = {
        "1-URGENT": "n_urgent",
        "2-HIGH": "n_high",
        "3-MEDIUM": "n_medium",
        "4-NOT SPECIFIED": "n_not_specified",
        "5-LOW": "n_low",
    }
    cols = ",\n       ".join(
        f"count(CASE WHEN o_orderpriority = '{p}' THEN 1 END) AS {safe[p]}"
        for p in WH.ORDER_PRIORITIES
    )
    return f"""
WITH o AS (
  SELECT o_orderpriority,
         epoch_ms(({_esec('o_orderdate')}) * 1000) AS ts
  FROM orders
)
SELECT CAST(year(ts) * 100 + month(ts) AS BIGINT) AS month_num,
       {cols}
FROM o GROUP BY month_num"""


# ---------------------------------------------------------------------------
# Round-5 additions: the remaining TPC-H plan shapes (Q2/Q11/Q12/Q16/
# Q20/Q21), adapted — see operators/warehouse.py for the shape notes.
# ---------------------------------------------------------------------------


def q_q2(spark, sf_dir):
    return WH.q2_min_cost_supplier(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


def q_q11(spark, sf_dir):
    return WH.q11_important_parts(_t(spark, sf_dir, "lineitem"))


def q_q12(spark, sf_dir):
    return WH.q12_late_shipments(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    )


def q_q16(spark, sf_dir):
    return WH.q16_supplier_part_counts(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
    )


def q_q20(spark, sf_dir):
    return WH.q20_excess_shippers(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
    )


def q_q21(spark, sf_dir):
    return WH.q21_waiting_suppliers(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "supplier")
    )


_Q2_SQL = f"""
WITH sup AS (
  SELECT s_suppkey, s_name, CAST(round(s_acctbal * 100) AS BIGINT) AS s_acctbal_c,
         n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = '{WH.Q2_REGION}'
),
offers AS (
  SELECT l_partkey, l_suppkey,
         min((CAST(round(l_extendedprice * 100) AS BIGINT) * 100)
             // CAST(round(l_quantity * 100) AS BIGINT)) AS unit_cc
  FROM lineitem JOIN sup ON l_suppkey = s_suppkey
  GROUP BY l_partkey, l_suppkey
),
best AS (
  SELECT l_partkey, min(unit_cc) AS min_unit_cc FROM offers GROUP BY l_partkey
),
pick AS (
  SELECT o.l_partkey, min(o.l_suppkey) AS best_suppkey, b.min_unit_cc
  FROM offers o
  JOIN best b ON o.l_partkey = b.l_partkey AND o.unit_cc = b.min_unit_cc
  GROUP BY o.l_partkey, b.min_unit_cc
)
SELECT p_partkey, p_name, best_suppkey, s_name, n_name, s_acctbal_c, min_unit_cc
FROM pick
JOIN part ON l_partkey = p_partkey AND p_size >= {WH.Q2_MIN_SIZE}
JOIN sup ON best_suppkey = s_suppkey"""


_Q11_SQL = f"""
WITH per_part AS (
  SELECT l_partkey, CAST(sum({_REV}) AS BIGINT) AS revenue_c
  FROM lineitem GROUP BY l_partkey
),
t AS (SELECT CAST(sum(revenue_c) AS BIGINT) AS total_c,
             count(*) AS n_parts FROM per_part)
SELECT l_partkey, revenue_c,
       CAST((revenue_c * 1000000) // total_c AS BIGINT) AS share_ppm
FROM per_part, t
WHERE revenue_c * n_parts * {WH.Q11_DEN} > total_c * {WH.Q11_NUM}"""


_Q12_SQL = f"""
SELECT o_orderpriority, count(*) AS n_lines,
       CAST(count(CASE WHEN {_esec('l_shipdate')} - {_esec('o_orderdate')}
                       > {WH.Q12_LATE_DAYS} * 86400 THEN 1 END) AS BIGINT)
         AS n_late,
       CAST(count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                       AND {_esec('l_shipdate')} - {_esec('o_orderdate')}
                       > {WH.Q12_LATE_DAYS} * 86400 THEN 1 END) AS BIGINT)
         AS n_late_highprio
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority"""


def q_customer_migration(spark, sf_dir):
    return WH.customer_migration(_t(spark, sf_dir, "orders"))


def _customer_migration_sql() -> str:
    b = WH.MIGRATION_BINS
    return f"""
WITH o AS (
  SELECT o_custkey, {_esec('o_orderdate')} AS ord_sec,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
  FROM orders
),
bounds AS (SELECT (min(ord_sec) + max(ord_sec)) // 2 AS mid_sec FROM o),
spend AS (
  SELECT o_custkey,
         CASE WHEN ord_sec <= mid_sec THEN 1 ELSE 2 END AS half,
         CAST(sum(price_c) AS BIGINT) AS spend_c
  FROM o CROSS JOIN bounds
  GROUP BY 1, 2
),
seg AS (
  SELECT o_custkey, half,
         CAST(ntile({b}) OVER (PARTITION BY half
                               ORDER BY spend_c, o_custkey) AS BIGINT) AS seg
  FROM spend
),
j AS (
  SELECT coalesce(h1.seg, 0) AS seg_h1, coalesce(h2.seg, 0) AS seg_h2
  FROM (SELECT o_custkey, seg FROM seg WHERE half = 1) h1
  FULL OUTER JOIN (SELECT o_custkey, seg FROM seg WHERE half = 2) h2
    USING (o_custkey)
)
SELECT seg_h1, seg_h2, CAST(count(*) AS BIGINT) AS n_customers
FROM j GROUP BY seg_h1, seg_h2"""


def q_supplier_scorecard(spark, sf_dir):
    return WH.supplier_scorecard(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "supplier"),
    )


def _supplier_scorecard_sql() -> str:
    return f"""
WITH per_supp AS (
  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum({_REV}) AS BIGINT) AS revenue_c,
         CAST(sum(CASE WHEN {_esec('l_shipdate')} - {_esec('o_orderdate')}
                        > {WH.Q12_LATE_DAYS} * 86400 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_late,
         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_ret
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, n_lines, revenue_c,
       (1000000 * n_late) // n_lines AS late_ppm,
       (1000000 * n_ret) // n_lines AS return_ppm
FROM per_supp JOIN supplier ON l_suppkey = s_suppkey"""


def q_market_basket(spark, sf_dir):
    return WH.market_basket(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


def _market_basket_sql() -> str:
    return f"""
WITH ob AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM ob),
per_brand AS (
  SELECT p_brand, CAST(count(*) AS BIGINT) AS n_brand_orders
  FROM ob GROUP BY p_brand
),
pairs AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
         CAST(count(*) AS BIGINT) AS n_orders_pair
  FROM ob a JOIN ob b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY a.p_brand, b.p_brand
  HAVING count(*) >= {WH.BASKET_MIN_PAIR_ORDERS}
)
SELECT brand_a, brand_b, n_orders_pair,
       pa.n_brand_orders AS n_orders_a,
       pb.n_brand_orders AS n_orders_b,
       (1000000 * n_orders_pair) // n_orders AS support_ppm,
       (1000 * n_orders_pair * n_orders)
         // (pa.n_brand_orders * pb.n_brand_orders) AS lift_milli
FROM pairs
JOIN per_brand pa ON pa.p_brand = brand_a
JOIN per_brand pb ON pb.p_brand = brand_b
CROSS JOIN n"""


def q_ship_delay_percentiles(spark, sf_dir):
    return WH.ship_delay_percentiles(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    )


def _ship_delay_pcts_sql() -> str:
    # Spark's div truncates; mirror for (defensive) negative deltas.
    delta = f"({_esec('l_shipdate')} - {_esec('o_orderdate')})"
    day = (
        f"CASE WHEN {delta} < 0 THEN -((-{delta}) // 86400)"
        f" ELSE {delta} // 86400 END"
    )
    pct_cols = ",\n       ".join(
        f"min(CASE WHEN cum * 1000 >= {q} * total THEN delay_days END)"
        f" AS p{q // 10}_days"
        for q in WH.DELAY_PCTS_MILLI
    )
    return f"""
WITH d AS (
  SELECT o_orderpriority, CAST({day} AS BIGINT) AS delay_days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
hist AS (
  SELECT o_orderpriority, delay_days, count(*) AS cnt
  FROM d GROUP BY o_orderpriority, delay_days
),
cdf AS (
  SELECT o_orderpriority, delay_days, cnt,
         sum(cnt) OVER (PARTITION BY o_orderpriority ORDER BY delay_days
                        ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cnt) OVER (PARTITION BY o_orderpriority) AS total
  FROM hist
)
SELECT o_orderpriority, CAST(max(total) AS BIGINT) AS n_lines,
       {pct_cols},
       max(delay_days) AS max_days
FROM cdf GROUP BY o_orderpriority"""


def _q16_sql() -> str:
    sizes = ", ".join(str(s) for s in WH.Q16_SIZES)
    return f"""
WITH excl AS (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
SELECT p_brand, CAST(p_size AS BIGINT) AS p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size IN ({sizes})
  AND p_type NOT LIKE '{WH.Q16_EXCLUDED_TYPE_PREFIX}%'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM excl)
GROUP BY p_brand, p_size"""


_Q20_SQL = f"""
WITH wparts AS (
  SELECT p_partkey FROM part WHERE p_name LIKE '%{WH.Q20_NAME_FRAGMENT}%'
),
shipped AS (
  SELECT l_suppkey, l_partkey,
         CAST(sum(round(l_quantity * 100)) AS BIGINT) AS qty_c
  FROM lineitem JOIN wparts ON l_partkey = p_partkey
  WHERE {_esec('l_shipdate')} >= {WH.Q20_LO}
  GROUP BY l_suppkey, l_partkey
),
heavy AS (SELECT DISTINCT l_suppkey FROM shipped WHERE qty_c > {WH.Q20_QTY_C})
SELECT s_suppkey, s_name, n_name
FROM heavy
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey"""


_Q21_SQL = f"""
WITH per AS (
  SELECT l_orderkey, l_suppkey, max({_esec('l_shipdate')}) AS last_sec
  FROM lineitem GROUP BY l_orderkey, l_suppkey
),
w1 AS (
  SELECT *, max(last_sec) OVER (PARTITION BY l_orderkey) AS o_max,
         count(*) OVER (PARTITION BY l_orderkey) AS n_supps
  FROM per
),
w2 AS (
  SELECT *, count(CASE WHEN last_sec = o_max THEN 1 END)
              OVER (PARTITION BY l_orderkey) AS n_at_max
  FROM w1
),
blamed AS (
  SELECT l_suppkey, count(*) AS n_waiting_orders
  FROM w2 WHERE n_supps >= 2 AND last_sec = o_max AND n_at_max = 1
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(n_waiting_orders AS BIGINT) AS n_waiting_orders
FROM blamed JOIN supplier ON l_suppkey = s_suppkey"""


def q_bloom(spark, sf_dir):
    return WH.bloom_prejoin_audit(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    )


def _bloom_sql() -> str:
    k, m = WH.BLOOM_K, WH.BLOOM_BITS

    def pos(i: int, key_expr: str) -> str:
        return (
            f"(CAST(('0x' || substr(md5('bl{i}:' || CAST({key_expr} AS VARCHAR)),"
            f" 1, 8)) AS BIGINT) % {m})"
        )

    key_bits = ", ".join(pos(i, "key") for i in range(k))
    fkey_bits = ", ".join(pos(i, "fkey") for i in range(k))
    return f"""
WITH keys AS (
  SELECT DISTINCT o_orderkey AS key FROM orders
  WHERE o_orderpriority = '1-URGENT'
),
bits AS (SELECT DISTINCT unnest([{key_bits}]) AS bit FROM keys),
fact_keys AS (
  SELECT l_orderkey AS fkey, count(*) AS n_rows FROM lineitem GROUP BY 1
),
probes AS (
  SELECT fkey, n_rows, unnest([{fkey_bits}]) AS bit FROM fact_keys
),
passed AS (
  SELECT fkey, n_rows FROM probes JOIN bits USING (bit)
  GROUP BY fkey, n_rows HAVING count(*) = {k}
),
truth AS (
  SELECT p.n_rows, (kk.key IS NOT NULL) AS is_match
  FROM passed p LEFT JOIN keys kk ON p.fkey = kk.key
)
SELECT (SELECT CAST(sum(n_rows) AS BIGINT) FROM fact_keys) AS n_fact_rows,
       (SELECT count(*) FROM keys) AS n_keys,
       (SELECT count(*) FROM bits) AS n_bits_set,
       CAST(coalesce(sum(n_rows), 0) AS BIGINT) AS n_pass_bloom,
       CAST(coalesce(sum(CASE WHEN is_match THEN n_rows END), 0) AS BIGINT)
         AS n_true_match,
       CAST(coalesce(sum(CASE WHEN NOT is_match THEN n_rows END), 0) AS BIGINT)
         AS n_false_positive
FROM truth"""


_Q16_SQL = _q16_sql()


# ---------------------------------------------------------------------------
# Round-5 additions (continuation): lakehouse MERGE + Z-order layout audit.
# ---------------------------------------------------------------------------


def q_merge(spark, sf_dir):
    return WH.merge_upsert_summary(_t(spark, sf_dir, "orders"))


def q_zorder(spark, sf_dir):
    return WH.zorder_layout_audit(_t(spark, sf_dir, "lineitem"))


_MERGE_SQL = f"""
WITH snap AS (
  SELECT o_orderkey AS key, o_orderstatus AS status,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
  FROM orders
),
upd AS (SELECT key FROM snap WHERE key % 10 = {WH.MERGE_UPDATE_MOD}),
del AS (SELECT key FROM snap WHERE key % 10 = {WH.MERGE_DELETE_MOD}),
ins AS (
  SELECT key + {WH.MERGE_INSERT_OFFSET} AS key, status, price_c
  FROM snap WHERE key % 10 = {WH.MERGE_INSERT_MOD}
),
merged AS (
  SELECT s.key, s.status,
         CASE WHEN u.key IS NOT NULL THEN s.price_c + 100
              ELSE s.price_c END AS price_c
  FROM snap s LEFT JOIN upd u ON s.key = u.key
  WHERE NOT EXISTS (SELECT 1 FROM del d WHERE d.key = s.key)
  UNION ALL
  SELECT i.key, i.status, i.price_c FROM ins i
  WHERE NOT EXISTS (SELECT 1 FROM snap s2 WHERE s2.key = i.key)
)
SELECT status AS o_orderstatus,
       count(*) AS n_orders,
       CAST(sum(price_c) AS BIGINT) AS sum_totalprice_c
FROM merged GROUP BY status"""


def _zorder_sql() -> str:
    # The SAME interleave expression string the Spark side evaluates
    # (warehouse.zorder_expr) — plain integer bit ops, engine-agnostic.
    side = 1 << WH.ZORDER_BITS
    x = f"(l_partkey % {side})"
    y = f"(l_suppkey % {side})"
    z = WH.zorder_expr(x, y, WH.ZORDER_BITS)
    return f"""
WITH coded AS (
  SELECT ({z}) >> {WH.ZORDER_BITS} AS z_bucket,
         {x} AS xx, {y} AS yy
  FROM lineitem
)
SELECT z_bucket, count(*) AS n_rows,
       min(xx) AS min_x, max(xx) AS max_x,
       min(yy) AS min_y, max(yy) AS max_y,
       (max(xx) - min(xx) + 1) * (max(yy) - min(yy) + 1) AS bbox_area
FROM coded GROUP BY z_bucket"""


def q_join_audit(spark, sf_dir):
    return WH.join_size_audit(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        "l_orderkey",
        "o_orderkey",
    )


_JOIN_AUDIT_SQL = f"""
WITH fc AS (SELECT l_orderkey AS k, count(*) AS cf FROM lineitem GROUP BY 1),
dc AS (SELECT o_orderkey AS k, count(*) AS cd FROM orders GROUP BY 1),
fs AS (
  SELECT CAST(sum(cf) AS BIGINT) AS fact_rows,
         CAST(count(*) AS BIGINT) AS n_fact_keys,
         CAST(max(cf) AS BIGINT) AS max_fact_key_rows
  FROM fc
),
ds AS (
  SELECT CAST(sum(cd) AS BIGINT) AS dim_rows,
         CAST(count(*) AS BIGINT) AS n_dim_keys
  FROM dc
),
jr AS (
  SELECT CAST(coalesce(sum(cf * cd), 0) AS BIGINT) AS join_rows
  FROM fc JOIN dc USING (k)
)
SELECT fact_rows, dim_rows, n_fact_keys, n_dim_keys, max_fact_key_rows,
       CAST((max_fact_key_rows * 1000000) // fact_rows AS BIGINT)
         AS fact_skew_ppm,
       join_rows,
       CASE WHEN dim_rows < {WH.JOIN_AUDIT_BROADCAST_ROWS} THEN 'broadcast'
            WHEN (max_fact_key_rows * 1000000) // fact_rows
                 > {WH.JOIN_AUDIT_SKEW_PPM} THEN 'shuffle+salt'
            ELSE 'shuffle' END AS strategy
FROM fs, ds, jr"""


def _bucketed_tables(app_id: str, sf_dir: str) -> tuple[str, str]:
    """The bucketed lineitem and orders table names of one Spark
    application over one corpus. The FULL corpus path, not the post-'sf'
    suffix: corpora whose dirs share a suffix ('degenerate_sf0' vs
    'empty_sf0') must not share tables. The application id: processes
    started from one checkout share its ``spark-warehouse/``.
    """
    import hashlib

    key = f"{app_id}\0{os.path.abspath(sf_dir)}"
    tag = hashlib.sha1(key.encode("utf-8")).hexdigest()[:12]
    return f"wh_li_bkt_{tag}", f"wh_o_bkt_{tag}"


def q_q12_bucketed(spark, sf_dir):
    """Q12 over BUCKETED fact tables — the 100 TB fact↔fact join as a
    first-class oracle-checked query rather than a synthetic plan
    test: lineitem and orders persist once per (sf, session) bucketed
    by orderkey (8 buckets, sorted), so the big-big join plans with
    ZERO exchanges on either side — each task merge-joins matching
    buckets straight off the scan; the only shuffle in the whole plan
    is the final |priorities|-row aggregate. Identical results to
    ``wh_q12_late_shipments`` by construction (same oracle SQL), and
    ``test_q12_bucketed_join_has_no_join_exchange`` pins the plan.

    Deployment analogy: the one-time bucketed write is the lakehouse's
    `CLUSTER BY` table layout — paid at ingest, amortized over every
    orderkey join after.
    """
    from .functions.skew import read_bucketed, write_bucketed

    li_tbl, o_tbl = _bucketed_tables(spark.sparkContext.applicationId, sf_dir)
    for name, tbl in (("lineitem", li_tbl), ("orders", o_tbl)):
        # in-memory catalog: within an application the table persists.
        # Its directory under spark-warehouse is this application's
        # scratch data, removed when the process exits; one without a
        # catalog entry is left by a failed write (LOCATION_ALREADY_EXISTS),
        # so drop it and rebuild.
        if not spark.catalog.tableExists(tbl):
            import atexit
            import shutil
            from urllib.parse import urlparse

            wh_dir = urlparse(
                spark.conf.get(
                    "spark.sql.warehouse.dir", "spark-warehouse"
                )
            ).path
            path = os.path.join(wh_dir, tbl)
            shutil.rmtree(path, ignore_errors=True)
            atexit.register(shutil.rmtree, path, True)
            write_bucketed(
                _t(spark, sf_dir, name),
                tbl,
                "l_orderkey" if name == "lineitem" else "o_orderkey",
                n_buckets=8,
                sort_col="l_orderkey" if name == "lineitem" else "o_orderkey",
            )
    return WH.q12_late_shipments(
        read_bucketed(spark, li_tbl), read_bucketed(spark, o_tbl)
    )
