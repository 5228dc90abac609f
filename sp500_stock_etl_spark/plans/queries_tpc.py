"""TPC-H and TPC-DS shaped queries over the fixture schema, plus the
star-chain Q5 join.

Most follow the TPC batch convention: portable ANSI SQL text is BOTH
the Spark query (spark.sql over registered views) and the DuckDB
oracle, so the engines execute the identical statement. Predicates
that compare against an average are EXACT integer/decimal arithmetic
(rev * n > total), never a float average in a filter — float-sum
order dependence would make the survivor set nondeterministic across
engines at the boundary.

Set-operator scale notes: Spark plans INTERSECT/EXCEPT DISTINCT as
left-semi / left-anti joins over aggregated (distinct) children — each
child dedups map-side first, so the shuffle carries distinct keys, not
raw rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.rounding import sql_round
from ..io.readers import load_table, register_views
from ..operators.aggregates import dec
from .registry import register


# ---------------------------------------------------------------------------
# Six-table star-chain join (TPC-H Q5 shape): region filter prunes
# nation -> customer -> orders -> lineitem -> supplier, with the
# local-supply predicate (customer and supplier share a nation).
# This is the optimizer workout: CBO orders the joins, the three
# dims broadcast, and only the orders<->lineitem edge shuffles.
# Revenue sums in decimal for cross-partition determinism.
# ---------------------------------------------------------------------------

_STAR_CHAIN_ORACLE = """
SELECT n.n_name,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
           * CAST(1.0 - l.l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       count(*) AS n_lineitems
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
"""


@register(
    "star_chain_q5",
    _STAR_CHAIN_ORACLE,
    doc="TPC-H Q5-shaped 6-table join with local-supply predicate; CBO "
    "join ordering + dim broadcasts, one fact shuffle (SURVEY §2.9 ext)",
)
def q_star_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1.0) - F.col("l_discount")
    ).cast("decimal(18,4)")
    joined = (
        r.join(n, n.n_regionkey == r.r_regionkey)
        .join(c, c.c_nationkey == n.n_nationkey)
        .join(o, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            s,
            (s.s_suppkey == li.l_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
    )
    return joined.groupBy("n_name").agg(
        F.sum(rev).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


# ---------------------------------------------------------------------------
# TPC-H-shaped subquery batch (SURVEY §4.1 / §7.3 ext): the four
# decorrelation patterns the first batch did not cover — EXISTS under
# an aggregate (Q4), an outer join with a filtered ON clause feeding a
# count histogram (Q13), HAVING against a global scalar subquery
# (Q11), and NOT EXISTS plus a cross-multiplied global threshold
# (Q22). One dialect-portable SQL text is both the query and its
# oracle. Cross-engine determinism notes: sum(l_quantity) is exact
# (integral doubles far below 2^53); the Q22 threshold avoids avg()
# (whose double sum is fold-order-dependent) by cross-multiplying an
# exact decimal sum; non-representable fraction literals are pinned
# with CAST(... AS DOUBLE).
# ---------------------------------------------------------------------------

_TPCH_Q4_SQL = """
SELECT o.o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > l.l_tax)
GROUP BY o.o_orderpriority
"""


@register(
    "tpch_q4_priority_exists",
    _TPCH_Q4_SQL,
    doc="TPC-H Q4 shape: EXISTS decorrelated to a left-semi join under a "
    "grouped count; portable SQL text is query and oracle (SURVEY §4.1)",
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_TPCH_Q4_SQL)


_TPCH_Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
    SELECT c.c_custkey AS custkey, count(o.o_orderkey) AS c_count
    FROM customer c
    LEFT JOIN orders o
      ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
    GROUP BY c.c_custkey
) per_cust
GROUP BY c_count
"""


@register(
    "tpch_q13_custdist",
    _TPCH_Q13_SQL,
    doc="TPC-H Q13 shape: left outer join with a filtered ON clause (the "
    "filter must NOT drop unmatched customers), two-level aggregation "
    "into a count histogram (SURVEY §2.9 ext)",
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_TPCH_Q13_SQL)


_TPCH_Q11_SQL = """
SELECT l_partkey, CAST(sum(l_quantity) AS DOUBLE) AS part_qty
FROM lineitem
GROUP BY l_partkey
HAVING sum(l_quantity) >
       (SELECT sum(l_quantity) / count(DISTINCT l_partkey) FROM lineitem)
         * CAST(1.2 AS DOUBLE)
"""


@register(
    "tpch_q11_important_parts",
    _TPCH_Q11_SQL,
    doc="TPC-H Q11 shape: HAVING against an uncorrelated global scalar "
    "subquery (planned as a broadcast of one row, not a rescan); exact "
    "because quantity sums are integral doubles (SURVEY §4.1)",
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_TPCH_Q11_SQL)


_TPCH_Q22_SQL = """
SELECT c.c_mktsegment,
       count(*) AS n_cust,
       CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
FROM customer c
WHERE CAST(c.c_acctbal AS DECIMAL(18,2))
        * (SELECT count(*) FROM customer c3 WHERE c3.c_acctbal > 0)
      > (SELECT sum(CAST(c2.c_acctbal AS DECIMAL(18,2)))
         FROM customer c2 WHERE c2.c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY c.c_mktsegment
"""


@register(
    "tpch_q22_idle_segments",
    _TPCH_Q22_SQL,
    doc="TPC-H Q22 shape: NOT EXISTS anti-join plus an above-average "
    "threshold done as an exact decimal cross-multiplication (avg() over "
    "doubles is fold-order-dependent across engines) (SURVEY §4.1)",
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_TPCH_Q22_SQL)


# ---------------------------------------------------------------------------
# TPC-H Q19 shape: disjunctive multi-column predicates across a join —
# the classic optimizer test for OR-predicate handling (each branch
# constrains BOTH sides, so the engine must push the union of the
# part-side constraints below the join instead of evaluating the OR
# only post-join). Revenue goes through the shared half-up kernel +
# decimal sum (terminal DOUBLE) for cross-engine bitwise parity.
# ---------------------------------------------------------------------------

_Q19_REV = sql_round("l.l_extendedprice * (1 - l.l_discount)", 2)

_TPCH_Q19_SQL = f"""
SELECT p.p_brand,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST({_Q19_REV} AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#11' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 30
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 45
       AND l.l_quantity BETWEEN 20 AND 30)
GROUP BY p.p_brand
"""


@register(
    "tpch_q19_disjunctive_join",
    _TPCH_Q19_SQL,
    doc="TPC-H Q19 shape: three OR'd brand/size/quantity predicate groups "
    "across a lineitem×part join — exercises disjunctive predicate "
    "pushdown; portable SQL text is query and oracle (SURVEY §4.1)",
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_TPCH_Q19_SQL)


# ---------------------------------------------------------------------------
# TPC-H Q10 shape: the classic reporting query — revenue lost to
# returned items per customer over a quarter, customer×orders×lineitem
# ×nation multi-join, grouped, ranked, top-k. Deterministic total
# order (revenue DESC would tie on equal revenues; the unique custkey
# breaks it) so LIMIT is stable across engines.
# ---------------------------------------------------------------------------

_Q10_REV = sql_round("l.l_extendedprice * (1 - l.l_discount)", 2)

_TPCH_Q10_SQL = f"""
SELECT c.c_custkey,
       c.c_mktsegment,
       n.n_name,
       CAST(sum(CAST({_Q10_REV} AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1995-07-01 00:00:00'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_mktsegment, n.n_name
ORDER BY sum(CAST({_Q10_REV} AS DECIMAL(18,2))) DESC, c.c_custkey
LIMIT 20
"""


@register(
    "tpch_q10_returned_items",
    _TPCH_Q10_SQL,
    doc="TPC-H Q10 shape: 4-table join, grouped returned-item revenue, "
    "top-20 under a tie-broken total order; portable SQL text is query "
    "and oracle (SURVEY §4.1)",
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_TPCH_Q10_SQL)


# ---------------------------------------------------------------------------
# TPC-H decorrelation batch 3: the remaining classic
# optimizer shapes — Q15 (agg view + scalar-max equality), Q17
# (correlated scalar avg subquery against the outer row), Q18 (IN over
# a grouped HAVING subquery), Q21 (EXISTS + NOT EXISTS both correlated
# to the same fact, adapted to this schema's lateness predicate since
# the synthetic lineitem has no commit/receipt dates). One portable
# SQL text per query is both the Spark plan (spark.sql) and the DuckDB
# oracle. Determinism: every money sum goes through exact
# DECIMAL(18,4) before its terminal DOUBLE cast; quantity sums are
# integral doubles cast BIGINT; avg() operands are integral so the
# double sum is fold-order-free below 2^53.
# ---------------------------------------------------------------------------

_TPCH_Q15_SQL = """
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
                         * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
                         AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


@register(
    "tpch_q15_top_supplier",
    _TPCH_Q15_SQL,
    doc="TPC-H Q15 shape: aggregated revenue view + scalar-max equality "
    "(exact-decimal revenue so the max tie is engine-stable) (SURVEY §4.1)",
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_TPCH_Q15_SQL)


_TPCH_Q17_SQL = """
SELECT CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
            / CAST(7.0 AS DOUBLE) AS DOUBLE) AS avg_yearly
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#13'
  AND p.p_size < 15
  AND l.l_quantity < (
      SELECT 0.2 * avg(l2.l_quantity)
      FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
  )
"""


@register(
    "tpch_q17_small_quantity",
    _TPCH_Q17_SQL,
    doc="TPC-H Q17 shape: correlated scalar avg subquery on the probe's own "
    "part — small-quantity revenue (avg over integral doubles is "
    "fold-order-free) (SURVEY §4.1)",
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_TPCH_Q17_SQL)


_TPCH_Q18_SQL = """
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       CAST(o.o_orderdate AS DATE) AS o_odate,
       o.o_totalprice,
       CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
    SELECT l_orderkey FROM lineitem
    GROUP BY l_orderkey
    HAVING sum(CAST(l_quantity AS BIGINT)) > 300
)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
"""


@register(
    "tpch_q18_large_orders",
    _TPCH_Q18_SQL,
    doc="TPC-H Q18 shape: IN over a grouped-HAVING subquery feeding a "
    "three-way join rollup (large-volume customers) (SURVEY §4.1)",
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_TPCH_Q18_SQL)


_TPCH_Q21_SQL = """
SELECT s.s_name, count(*) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_shipdate > o.o_orderdate + INTERVAL '60' DAY
  AND EXISTS (
      SELECT 1 FROM lineitem l2
      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
      SELECT 1 FROM lineitem l3
      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        AND l3.l_shipdate > o.o_orderdate + INTERVAL '60' DAY
  )
GROUP BY s.s_name
"""


@register(
    "tpch_q21_waiting_supplier",
    _TPCH_Q21_SQL,
    doc="TPC-H Q21 shape: EXISTS + NOT EXISTS both correlated to the same "
    "fact (sole-late-supplier in multi-supplier orders; lateness adapted to "
    "l_shipdate vs o_orderdate — this schema has no commit/receipt dates) "
    "(SURVEY §4.1)",
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_TPCH_Q21_SQL)


# ---------------------------------------------------------------------------
# TPC-H batch 4: the remaining shapes expressible on this
# schema — Q2 (correlated min across a 4-table dimension chain), Q7
# (nation-pair volume), Q8 (market share ratio), Q14 (promo revenue
# share), Q16 (distinct-supplier counts with a NOT IN exclusion), Q20
# (IN over a correlated HAVING threshold). The schema has no partsupp
# table and no commit/receipt/shipmode columns, so Q2/Q16/Q20 use the
# lineitem-derived part↔supplier link, and Q9/Q12 (below)
# derive ps_supplycost / shipmode / commit+receipt dates
# deterministically from existing key columns — the same integer
# arithmetic on both engines, documented at each query. Money math
# follows the decimal policy; ratio thresholds are integer
# cross-multiplied.
# ---------------------------------------------------------------------------

_TPCH_Q2_SQL = """
WITH costs AS (
    SELECT l_partkey, l_suppkey,
           min(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) AS DOUBLE)
               / CAST(l_quantity AS DOUBLE)) AS unit_cost
    FROM lineitem GROUP BY l_partkey, l_suppkey
)
SELECT p.p_partkey, p.p_name, s.s_name, n.n_name, c.unit_cost
FROM part p
JOIN costs c ON c.l_partkey = p.p_partkey
JOIN supplier s ON s.s_suppkey = c.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'EUROPE' AND p.p_size < 10
  AND c.unit_cost = (
      SELECT min(c2.unit_cost)
      FROM costs c2
      JOIN supplier s2 ON s2.s_suppkey = c2.l_suppkey
      JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
      JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
      WHERE c2.l_partkey = p.p_partkey AND r2.r_name = 'EUROPE'
  )
"""


@register(
    "tpch_q2_min_cost_supplier",
    _TPCH_Q2_SQL,
    doc="TPC-H Q2 shape: correlated min across a 4-table dimension chain "
    "(unit cost derived from lineitem; schema has no partsupp) "
    "(SURVEY §4.1)",
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_TPCH_Q2_SQL)


_TPCH_Q7_SQL = """
SELECT sn.n_name AS supp_nation,
       cn.n_name AS cust_nation,
       year(l.l_shipdate) AS l_year,
       CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(18,4))
                     * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))
                     AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation cn ON cn.n_nationkey = c.c_nationkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation sn ON sn.n_nationkey = s.s_nationkey
WHERE sn.n_name IN ('NATION_1', 'NATION_2')
  AND cn.n_name IN ('NATION_1', 'NATION_2')
  AND sn.n_name <> cn.n_name
GROUP BY 1, 2, 3
"""


@register(
    "tpch_q7_nation_volume",
    _TPCH_Q7_SQL,
    doc="TPC-H Q7 shape: bilateral nation-pair shipping volume by year "
    "(SURVEY §4.1)",
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_TPCH_Q7_SQL)


_TPCH_Q8_SQL = """
WITH volumes AS (
    SELECT year(o.o_orderdate) AS o_year,
           CAST(CAST(l.l_extendedprice AS DECIMAL(18,4))
                * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))
                AS DECIMAL(18,4)) AS volume,
           sn.n_name AS supp_nation
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation cn ON cn.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = cn.n_regionkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
)
SELECT o_year,
       CAST(sum(CASE WHEN supp_nation = 'NATION_2' THEN volume
                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
           / CAST(sum(volume) AS DOUBLE) AS mkt_share
FROM volumes
GROUP BY o_year
"""


@register(
    "tpch_q8_market_share",
    _TPCH_Q8_SQL,
    doc="TPC-H Q8 shape: one nation's market share of a part-type market "
    "by year (decimal num/den, one double division) (SURVEY §4.1)",
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_TPCH_Q8_SQL)


_TPCH_Q14_SQL = """
SELECT CAST(100.0 AS DOUBLE)
       * CAST(sum(CASE WHEN p.p_type = 'PROMO'
                       THEN CAST(CAST(l.l_extendedprice AS DECIMAL(18,4))
                                 * (CAST(1 AS DECIMAL(18,4))
                                    - CAST(l.l_discount AS DECIMAL(18,4)))
                                 AS DECIMAL(18,4))
                       ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
       / CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(18,4))
                       * (CAST(1 AS DECIMAL(18,4))
                          - CAST(l.l_discount AS DECIMAL(18,4)))
                       AS DECIMAL(18,4))) AS DOUBLE) AS promo_revenue_pct
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1996-02-01 00:00:00'
"""


@register(
    "tpch_q14_promo_share",
    _TPCH_Q14_SQL,
    doc="TPC-H Q14 shape: promo revenue share of a month (conditional "
    "decimal sums, one double division) (SURVEY §4.1)",
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_TPCH_Q14_SQL)


_TPCH_Q16_SQL = """
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND l.l_suppkey NOT IN (
      SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY p.p_brand, p.p_type, p.p_size
"""


@register(
    "tpch_q16_supplier_counts",
    _TPCH_Q16_SQL,
    doc="TPC-H Q16 shape: distinct-supplier counts per part attribute with "
    "a NOT IN exclusion subquery (null-aware anti join) (SURVEY §4.1)",
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_TPCH_Q16_SQL)


_TPCH_Q20_SQL = """
SELECT s.s_name, s.s_acctbal
FROM supplier s
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE n.n_name = 'NATION_3'
  AND s.s_suppkey IN (
      SELECT l.l_suppkey
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_name LIKE 'red%'
      GROUP BY l.l_suppkey, l.l_partkey
      HAVING sum(CAST(l.l_quantity AS BIGINT)) * 5 > (
          SELECT sum(CAST(l2.l_quantity AS BIGINT))
          FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
      )
  )
"""


@register(
    "tpch_q20_excess_share_supplier",
    _TPCH_Q20_SQL,
    doc="TPC-H Q20 shape: IN over a grouped HAVING with a correlated "
    "scalar-agg threshold (integer cross-multiplied 20% share; schema "
    "has no partsupp availqty) (SURVEY §4.1)",
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_TPCH_Q20_SQL)


# ---------------------------------------------------------------------------
# TPC-H batch 5: Q9 and Q12, closing the suite at 22/22.
# The testdata schema has no partsupp table and no shipmode /
# commitdate / receiptdate columns, so both queries DERIVE the missing
# inputs deterministically from existing key columns with integer
# arithmetic both engines compute bit-identically:
#   Q9  ps_supplycost := (100 + (l_partkey*7 + l_suppkey*13) % 900)
#       cents — i.e. $1.00..$9.99, a pure function of the natural
#       partsupp key, applied as integer cents * DECIMAL 0.01 so no
#       decimal division ever happens.
#   Q12 l_shipmode := 7-way CASE over (l_orderkey*11 + l_linenumber)%7;
#       l_commitdate/l_receiptdate := l_shipdate + (1 + hash%60) days
#       with different multipliers, so commit<receipt holds for ~half
#       the lines, exactly like the real columns would.
# The derivations are part of the query text (documented, reproducible)
# — the point is the SHAPE: Q9's 5-way join profit rollup, Q12's
# two-branch conditional count on a date sandwich.
# ---------------------------------------------------------------------------

_TPCH_Q9_SQL = """
WITH profit AS (
    SELECT n.n_name AS nation,
           year(o.o_orderdate) AS o_year,
           CAST(CAST(l.l_extendedprice AS DECIMAL(18,4))
                * (CAST(1 AS DECIMAL(18,4))
                   - CAST(l.l_discount AS DECIMAL(18,4)))
                AS DECIMAL(18,4))
           - CAST(CAST((100 + (l.l_partkey * 7 + l.l_suppkey * 13) % 900)
                       * CAST(l.l_quantity AS BIGINT) AS DECIMAL(18,4))
                  * CAST(0.01 AS DECIMAL(3,2)) AS DECIMAL(18,4)) AS amount
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%bolt%'
)
SELECT nation, o_year, CAST(sum(amount) AS DOUBLE) AS sum_profit
FROM profit
GROUP BY nation, o_year
"""


@register(
    "tpch_q9_profit",
    _TPCH_Q9_SQL,
    doc="TPC-H Q9 shape: product-profit by nation x order-year across a "
    "5-way join; ps_supplycost derived as integer cents from the natural "
    "(partkey, suppkey) key (schema has no partsupp), revenue minus cost "
    "in exact decimals, one terminal double cast (SURVEY §4.1)",
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_TPCH_Q9_SQL)


_TPCH_Q12_ORACLE = """
WITH li AS (
    SELECT l_orderkey,
           CASE (l_orderkey * 11 + l_linenumber) % 7
                WHEN 0 THEN 'MAIL' WHEN 1 THEN 'SHIP' WHEN 2 THEN 'AIR'
                WHEN 3 THEN 'RAIL' WHEN 4 THEN 'TRUCK' WHEN 5 THEN 'FOB'
                ELSE 'REG AIR' END AS l_shipmode,
           CAST(l_shipdate AS DATE) AS ship_d,
           CAST(l_shipdate AS DATE)
               + CAST(1 + (l_orderkey * 3 + l_linenumber * 7) % 60 AS INT)
               AS commit_d,
           CAST(l_shipdate AS DATE)
               + CAST(1 + (l_orderkey * 5 + l_linenumber * 11) % 60 AS INT)
               AS receipt_d
    FROM lineitem
)
SELECT l_shipmode,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM li JOIN orders o ON o.o_orderkey = li.l_orderkey
WHERE l_shipmode IN ('MAIL', 'SHIP')
  AND commit_d < receipt_d
  AND ship_d < commit_d
  AND receipt_d >= DATE '1997-01-01'
  AND receipt_d < DATE '1998-01-01'
GROUP BY l_shipmode
"""


@register(
    "tpch_q12_shipmode",
    _TPCH_Q12_ORACLE,
    doc="TPC-H Q12 shape: two-branch priority counts on a "
    "commit<receipt date sandwich; shipmode and both dates derived "
    "deterministically from (orderkey, linenumber, shipdate) — the "
    "Spark side uses date_add with a column offset, the oracle DuckDB's "
    "date+int arithmetic, same integer day offsets (SURVEY §4.1)",
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    ship = F.col("l_shipdate").cast("date")
    mode_idx = (F.col("l_orderkey") * 11 + F.col("l_linenumber")) % 7
    commit_off = (
        F.lit(1) + (F.col("l_orderkey") * 3 + F.col("l_linenumber") * 7) % 60
    ).cast("int")
    receipt_off = (
        F.lit(1) + (F.col("l_orderkey") * 5 + F.col("l_linenumber") * 11) % 60
    ).cast("int")
    modes = ["MAIL", "SHIP", "AIR", "RAIL", "TRUCK", "FOB", "REG AIR"]
    mode_col = F.element_at(
        F.array(*[F.lit(m) for m in modes]), (mode_idx + 1).cast("int")
    )
    derived = li.select(
        "l_orderkey",
        mode_col.alias("l_shipmode"),
        ship.alias("ship_d"),
        F.date_add(ship, commit_off).alias("commit_d"),
        F.date_add(ship, receipt_off).alias("receipt_d"),
    ).where(
        F.col("l_shipmode").isin("MAIL", "SHIP")
        & (F.col("commit_d") < F.col("receipt_d"))
        & (F.col("ship_d") < F.col("commit_d"))
        & (F.col("receipt_d") >= F.lit("1997-01-01").cast("date"))
        & (F.col("receipt_d") < F.lit("1998-01-01").cast("date"))
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        derived.join(orders, derived.l_orderkey == orders.o_orderkey)
        .groupBy("l_shipmode")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("bigint").alias(
                "high_line_count"
            ),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("bigint").alias(
                "low_line_count"
            ),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q6 shape: pure filter + single-row aggregate — the query whose
# entire cost is the scan, so pushdown quality IS the performance.
# All three predicates reach the parquet reader as PushedFilters;
# revenue in decimal (exact product of two decimal(18,4) casts).
# ---------------------------------------------------------------------------

_Q6_ORACLE = """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
           * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS forecast_revenue,
       count(*) AS n
FROM lineitem
WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
  AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.05
  AND l_quantity < 24.0
"""


@register(
    "tpch_q6_forecast_revenue",
    _Q6_ORACLE,
    doc="TPC-H Q6 shape: scan-bound filter+agg, every predicate pushed to "
    "the parquet reader (SURVEY §2.3/§2.8 ext)",
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    ship = F.to_date("l_shipdate")
    return li.where(
        (ship >= F.lit("1996-01-01").cast("date"))
        & (ship < F.lit("1997-01-01").cast("date"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.05)
        & (F.col("l_quantity") < 24.0)
    ).agg(
        # Scaled sum stays < 2^53 at oracle scale (sf0.01), so the
        # decimal→double conversion is correctly rounded in both engines.
        F.sum(dec("l_extendedprice") * dec("l_discount"))
        .cast("double")
        .alias("forecast_revenue"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# TPC-DS-shaped pair: the rollup x window and
# cumulative-max compositions the TPC-H 22 don't exercise. Portable
# SQL text is query and oracle, like the TPC-H batches.
# ---------------------------------------------------------------------------

# Q67 shape: grouped-rollup sales, then top-k by revenue WITHIN each
# p_mfgr partition — note the rollup SUBTOTAL row (p_brand IS NULL)
# deliberately competes inside its type partition, exactly as
# TPC-DS Q67's category subtotals do. The window is PARTITIONED
# (bounded fan-in per type at any scale); NULLS FIRST pins the one
# cross-engine divergence (Spark defaults NULLS FIRST on ASC, DuckDB
# NULLS LAST).
_TPCDS_Q67_SQL = """
WITH sales AS (
    SELECT p.p_type, p.p_brand,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
               AS revenue,
           count(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY ROLLUP (p.p_type, p.p_brand)
),
ranked AS (
    SELECT p_type, p_brand, revenue, n_items,
           rank() OVER (
               PARTITION BY p_type
               ORDER BY revenue DESC, p_brand NULLS FIRST) AS rk
    FROM sales
)
SELECT p_type, p_brand, revenue, n_items, CAST(rk AS BIGINT) AS rk
FROM ranked
WHERE rk <= 3
"""


@register(
    "tpcds_q67_rollup_topk",
    _TPCDS_Q67_SQL,
    doc="TPC-DS Q67 shape: ROLLUP subtotals ranked inside each "
    "part-type partition (rollup x window composition); portable "
    "SQL text is query and oracle",
)
def q_tpcds_q67(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_TPCDS_Q67_SQL)


# Q51 shape: per-channel daily counts cumulated per user, stitched
# with a FULL OUTER join and null-filled via running MAX over the
# merged date spine — the exact Q51 device for "channel A's cumulative
# total overtakes channel B's". Integer counts end to end (no float
# ordering risk); every window is PARTITIONED BY user_id.
_TPCDS_Q51_SQL = """
WITH web AS (
    SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS n
    FROM events WHERE event_type = 'view'
    GROUP BY user_id, CAST(ts AS DATE)
),
store AS (
    SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS n
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id, CAST(ts AS DATE)
),
wcum AS (
    SELECT user_id, d,
           sum(n) OVER (PARTITION BY user_id ORDER BY d
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cume
    FROM web
),
scum AS (
    SELECT user_id, d,
           sum(n) OVER (PARTITION BY user_id ORDER BY d
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cume
    FROM store
),
j AS (
    SELECT coalesce(w.user_id, s.user_id) AS user_id,
           coalesce(w.d, s.d) AS d,
           w.cume AS wc, s.cume AS sc
    FROM wcum w FULL OUTER JOIN scum s
      ON w.user_id = s.user_id AND w.d = s.d
),
filled AS (
    SELECT user_id, d,
           max(wc) OVER (PARTITION BY user_id ORDER BY d
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS web_cumulative,
           max(sc) OVER (PARTITION BY user_id ORDER BY d
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS store_cumulative
    FROM j
)
SELECT user_id, d,
       CAST(web_cumulative AS BIGINT) AS web_cumulative,
       CAST(store_cumulative AS BIGINT) AS store_cumulative
FROM filled
WHERE web_cumulative > coalesce(store_cumulative, 0)
"""


@register(
    "tpcds_q51_cumulative_max",
    _TPCDS_Q51_SQL,
    doc="TPC-DS Q51 shape: per-channel cumulative sums stitched with "
    "a FULL OUTER date spine and null-filled by running MAX, keeping "
    "days where the web channel's running total leads; portable SQL "
    "text is query and oracle",
)
def q_tpcds_q51(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_TPCDS_Q51_SQL)


# ---------------------------------------------------------------------------
# TPC-DS Q97 shape — channel-overlap census: distinct (user, day)
# activity per channel stitched with one FULL OUTER join, counted into
# both/left-only/right-only buckets. Exercises the set-reconciliation
# composition (distinct projections → full outer → conditional counts)
# none of the other TPC shapes touch. Portable SQL, query == oracle;
# the join key carries the day so the shuffle is (user, day)-wide,
# never user-wide.
# ---------------------------------------------------------------------------

_TPCDS_Q97_SQL = """
WITH web AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
    FROM events WHERE event_type = 'view'
),
store AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
    FROM events WHERE event_type = 'purchase'
)
SELECT CAST(sum(CASE WHEN w.user_id IS NOT NULL AND s.user_id IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS both_channels,
       CAST(sum(CASE WHEN w.user_id IS NOT NULL AND s.user_id IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS web_only,
       CAST(sum(CASE WHEN w.user_id IS NULL AND s.user_id IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS store_only
FROM web w FULL OUTER JOIN store s
  ON w.user_id = s.user_id AND w.d = s.d
"""


@register(
    "tpcds_q97_channel_overlap",
    _TPCDS_Q97_SQL,
    doc="TPC-DS Q97 shape: per-channel distinct (user, day) activity "
    "reconciled with one FULL OUTER join into both/web-only/"
    "store-only counts; portable SQL text is query and oracle",
)
def q_tpcds_q97(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_TPCDS_Q97_SQL)


# ---------------------------------------------------------------------------
# TPC-DS batch 2: three more portable-SQL shapes with
# compositions the existing TPC set doesn't exercise — Q88's
# cross-joined scalar-subquery band counts, Q73's group-count range
# filter joined back to the dimension, Q93's self-derived returns
# adjustment. Query text == oracle text, like every TPC batch.
# ---------------------------------------------------------------------------

# Q88 shape: eight independent band counts as scalar subqueries
# cross-joined into ONE row (the classic dashboard "count grid").
# Bands = hour-of-day x value ranges over events. Each subquery is a
# self-contained filtered count; engines may share or re-scan — the
# SHAPE under test is scalar-subquery composition, not scan reuse.
_TPCDS_Q88_SQL = """
SELECT h1.n AS h8_low, h2.n AS h8_high,
       h3.n AS h12_low, h4.n AS h12_high,
       h5.n AS h16_low, h6.n AS h16_high,
       h7.n AS h20_low, h8.n AS h20_high
FROM (SELECT count(*) AS n FROM events
      WHERE EXTRACT(HOUR FROM ts) BETWEEN 8 AND 11 AND value < 50) h1,
     (SELECT count(*) AS n FROM events
      WHERE EXTRACT(HOUR FROM ts) BETWEEN 8 AND 11 AND value >= 50) h2,
     (SELECT count(*) AS n FROM events
      WHERE EXTRACT(HOUR FROM ts) BETWEEN 12 AND 15 AND value < 50) h3,
     (SELECT count(*) AS n FROM events
      WHERE EXTRACT(HOUR FROM ts) BETWEEN 12 AND 15 AND value >= 50) h4,
     (SELECT count(*) AS n FROM events
      WHERE EXTRACT(HOUR FROM ts) BETWEEN 16 AND 19 AND value < 50) h5,
     (SELECT count(*) AS n FROM events
      WHERE EXTRACT(HOUR FROM ts) BETWEEN 16 AND 19 AND value >= 50) h6,
     (SELECT count(*) AS n FROM events
      WHERE EXTRACT(HOUR FROM ts) BETWEEN 20 AND 23 AND value < 50) h7,
     (SELECT count(*) AS n FROM events
      WHERE EXTRACT(HOUR FROM ts) BETWEEN 20 AND 23 AND value >= 50) h8
"""


@register(
    "tpcds_q88_multiband_counts",
    _TPCDS_Q88_SQL,
    doc="TPC-DS Q88 shape: eight filtered band counts as cross-joined "
    "scalar subqueries into one row (hour-of-day x value bands); "
    "portable SQL text is query and oracle",
)
def q_tpcds_q88(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_TPCDS_Q88_SQL)


# Q34/Q73 shape: per-group count filtered to a RANGE, then joined
# back to the dimension — "customers whose orders have 15..20 items".
# Distinct from Q13 (count histogram): the agg result is a FILTER and
# the output re-attaches dimension attributes.
_TPCDS_Q73_SQL = """
WITH big AS (
    SELECT l_orderkey, count(*) AS n_items
    FROM lineitem
    GROUP BY l_orderkey
    HAVING count(*) BETWEEN 6 AND 7
)
SELECT c.c_custkey, c.c_mktsegment, b.l_orderkey AS orderkey, b.n_items
FROM big b
JOIN orders o ON b.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
"""


@register(
    "tpcds_q73_basket_counts",
    _TPCDS_Q73_SQL,
    doc="TPC-DS Q73/Q34 shape: per-order item-count RANGE filter "
    "(HAVING BETWEEN) joined back through the fact to the customer "
    "dimension; portable SQL text is query and oracle",
)
def q_tpcds_q73(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_TPCDS_Q73_SQL)


# Q93 shape: net sales after a RETURNS adjustment — sales left-joined
# to the returns subset of themselves on the line key; matched rows
# net to zero quantity, unmatched keep theirs. Exact integer
# quantities + decimal money, so the hash is bitwise.
_TPCDS_Q93_SQL = """
WITH returns AS (
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem WHERE l_returnflag = 'R'
)
SELECT o.o_orderpriority,
       CAST(sum(CAST(s.l_quantity AS BIGINT)
                - CAST(coalesce(r.l_quantity, 0) AS BIGINT)) AS BIGINT)
           AS net_quantity,
       count(*) AS n_lines
FROM lineitem s
LEFT JOIN returns r
  ON s.l_orderkey = r.l_orderkey AND s.l_linenumber = r.l_linenumber
JOIN orders o ON s.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""


@register(
    "tpcds_q93_returns_adjusted",
    _TPCDS_Q93_SQL,
    doc="TPC-DS Q93 shape: sales left-joined to the returns subset on "
    "the line key, returned quantities netted out, grouped by order "
    "priority; portable SQL text is query and oracle",
)
def q_tpcds_q93(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_TPCDS_Q93_SQL)


# ---------------------------------------------------------------------------
# TPC-DS Q38 shape — distinct-entity census via INTERSECT: entities
# active in ALL THREE channels in the window. Q38 intersects
# (customer, date) across store/catalog/web sales; here the three
# channels are the view/click/purchase event streams and the entity
# is (user_id, day). Single-row count, like the original.
# ---------------------------------------------------------------------------

_TPCDS_Q38_SQL = """
WITH v AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
    FROM events WHERE event_type = 'view'
),
c AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
    FROM events WHERE event_type = 'click'
),
p AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
    FROM events WHERE event_type = 'purchase'
)
SELECT CAST(count(*) AS BIGINT) AS hot_count
FROM (
    SELECT user_id, d FROM v
    INTERSECT
    SELECT user_id, d FROM c
    INTERSECT
    SELECT user_id, d FROM p
) t
"""


@register(
    "tpcds_q38_channel_intersect",
    _TPCDS_Q38_SQL,
    doc="TPC-DS Q38 shape: three-channel distinct (user, day) census "
    "chained with INTERSECT — planned as semi-joins over pre-"
    "deduplicated children; portable SQL text is query and oracle",
)
def q_tpcds_q38(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_TPCDS_Q38_SQL)


# ---------------------------------------------------------------------------
# TPC-DS Q87 shape — the EXCEPT twin: entities in the first channel
# and in NEITHER of the other two (Q87 counts store customers absent
# from catalog and web). EXCEPT DISTINCT plans as left-anti joins.
# ---------------------------------------------------------------------------

_TPCDS_Q87_SQL = """
WITH v AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
    FROM events WHERE event_type = 'view'
),
c AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
    FROM events WHERE event_type = 'click'
),
p AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
    FROM events WHERE event_type = 'purchase'
)
SELECT CAST(count(*) AS BIGINT) AS exclusive_count
FROM (
    SELECT user_id, d FROM v
    EXCEPT
    SELECT user_id, d FROM c
    EXCEPT
    SELECT user_id, d FROM p
) t
"""


@register(
    "tpcds_q87_channel_except",
    _TPCDS_Q87_SQL,
    doc="TPC-DS Q87 shape: (user, day) present in the view channel and "
    "absent from click AND purchase via chained EXCEPT — planned as "
    "anti-joins over deduplicated children; portable SQL text is "
    "query and oracle",
)
def q_tpcds_q87(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_TPCDS_Q87_SQL)


# ---------------------------------------------------------------------------
# TPC-DS Q14 shape — cross-channel frequent items: items whose
# channel revenue beats that channel's average item revenue in EVERY
# channel (INTERSECT under aggregation), then the per-channel /
# per-brand sales report restricted to those items. Channels are the
# three l_returnflag slices (each covers the full part range, so the
# above-average filter is what makes the intersection selective —
# Q14's avg_sales device). The average comparison is EXACT:
# rev * channel_item_count > channel_total_revenue in decimal
# arithmetic, so the survivor set is bit-deterministic cross-engine.
# ---------------------------------------------------------------------------

_TPCDS_Q14_SQL = """
WITH item_rev AS (
    SELECT l_returnflag AS channel, l_partkey,
           sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS rev
    FROM lineitem
    GROUP BY l_returnflag, l_partkey
),
chan_tot AS (
    SELECT channel,
           count(*) AS n_items_ch,
           sum(rev) AS tot
    FROM item_rev
    GROUP BY channel
),
hot AS (
    SELECT ir.channel, ir.l_partkey
    FROM item_rev ir JOIN chan_tot ct ON ir.channel = ct.channel
    WHERE ir.rev * ct.n_items_ch > ct.tot
),
cross_items AS (
    SELECT l_partkey FROM hot WHERE channel = 'A'
    INTERSECT
    SELECT l_partkey FROM hot WHERE channel = 'N'
    INTERSECT
    SELECT l_partkey FROM hot WHERE channel = 'R'
)
SELECT ir.channel, p.p_brand,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(ir.rev) AS DOUBLE) AS revenue
FROM item_rev ir
JOIN cross_items ci ON ir.l_partkey = ci.l_partkey
JOIN part p ON p.p_partkey = ir.l_partkey
GROUP BY ir.channel, p.p_brand
"""


@register(
    "tpcds_q14_cross_channel_items",
    _TPCDS_Q14_SQL,
    doc="TPC-DS Q14 shape: above-channel-average items intersected "
    "across all three channels (INTERSECT under aggregation, exact "
    "decimal threshold — no float average in a predicate), then the "
    "per-channel per-brand report over the surviving items; portable "
    "SQL text is query and oracle",
)
def q_tpcds_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_TPCDS_Q14_SQL)


# ---------------------------------------------------------------------------
# TPC-DS batch 4: the two reporting shapes the suite still
# lacked — rank-WITHIN-rollup-level (Q36) and dual-rank OR-filtered
# channel reports (Q49). TPC-batch convention: portable SQL text is
# query and oracle. NULLS FIRST is explicit everywhere a rollup NULL
# can reach an ORDER BY (Spark defaults NULLS FIRST, DuckDB NULLS
# LAST — implicit ordering would silently diverge).
# ---------------------------------------------------------------------------

_TPCDS_Q36_SQL = """
WITH agg AS (
    SELECT p_type, p_brand,
           grouping(p_type) + grouping(p_brand) AS lochierarchy,
           grouping(p_brand) AS g_brand,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
                    AS BIGINT)) AS BIGINT) AS rev_cents,
           CAST(sum(CAST(floor(l_quantity * p_retailprice * 100)
                    AS BIGINT)) AS BIGINT) AS cost_cents
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY ROLLUP (p_type, p_brand)
)
SELECT coalesce(p_type, '(all)') AS p_type,
       coalesce(p_brand, '(all)') AS p_brand,
       CAST(lochierarchy AS BIGINT) AS lochierarchy,
       rev_cents, cost_cents,
       CAST(rank() OVER (
            PARTITION BY lochierarchy,
                         CASE WHEN g_brand = 1 THEN p_type END
            ORDER BY rev_cents - cost_cents ASC,
                     p_type ASC NULLS FIRST,
                     p_brand ASC NULLS FIRST) AS BIGINT) AS rank_within_parent
FROM agg
"""


@register(
    "tpcds_q36_rollup_rank",
    _TPCDS_Q36_SQL,
    doc="TPC-DS Q36 shape: gross-margin ROLLUP over the (type, brand) "
    "hierarchy with rank-WITHIN-PARENT — the window partitions on the "
    "GROUPING level plus the parent key (CASE on grouping(brand)), so "
    "each hierarchy level ranks its own children; exact integer-cents "
    "margin ordering with key tie-breaks, explicit NULLS FIRST; "
    "portable SQL text is query and oracle",
)
def q_tpcds_q36(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_TPCDS_Q36_SQL)


_TPCDS_Q49_SQL = """
WITH base AS (
    SELECT l_returnflag AS channel, p_brand,
           CAST(sum(CASE WHEN l_discount > 0
                    THEN CAST(floor(l_quantity) AS BIGINT) ELSE 0 END)
               AS BIGINT) AS disc_qty,
           CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS tot_qty,
           CAST(sum(CASE WHEN l_discount > 0
                    THEN CAST(floor(l_extendedprice * 100) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS disc_amt_cents,
           CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS tot_amt_cents
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY l_returnflag, p_brand
),
ranked AS (
    SELECT *,
           rank() OVER (PARTITION BY channel
                        ORDER BY CAST(disc_qty AS DOUBLE) / tot_qty,
                                 p_brand) AS qty_rank,
           rank() OVER (PARTITION BY channel
                        ORDER BY CAST(disc_amt_cents AS DOUBLE) / tot_amt_cents,
                                 p_brand) AS amt_rank
    FROM base
)
SELECT channel, p_brand, disc_qty, tot_qty, disc_amt_cents, tot_amt_cents,
       CAST(qty_rank AS BIGINT) AS qty_rank,
       CAST(amt_rank AS BIGINT) AS amt_rank
FROM ranked
WHERE qty_rank <= 10 OR amt_rank <= 10
"""


@register(
    "tpcds_q49_dual_rank_report",
    _TPCDS_Q49_SQL,
    doc="TPC-DS Q49 shape: per-channel dual ratio ranking (discounted "
    "quantity share and discounted currency share, two rank() windows "
    "over the same partition) with the OR-filter keeping items in "
    "either top-10, reported across all channels; ratio ORDER BY is "
    "IEEE division of exact integers (correctly rounded in both "
    "engines) with key tie-breaks; portable SQL text is query and "
    "oracle",
)
def q_tpcds_q49(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_TPCDS_Q49_SQL)


# ---------------------------------------------------------------------------
# TPC-DS batch 5 — the two window-over-join shapes still absent.
#
# Q51 shape: per-entity cumulative daily revenue in TWO channels,
# FULL OUTER joined on (entity, day), each side's cumulative carried
# across the other side's missing days by a running MAX over the
# joined timeline, then the crossover rows where the web cumulative
# overtakes store. Q57 shape below. Portable SQL text is query and
# oracle, like every TPC batch.
#
# Scale notes: the per-channel cumulative, the full-outer join, and
# the post-join running max all key on user_id — ONE hash
# partitioning reused across the three stages under AQE; the daily
# pre-aggregation shrinks the join inputs map-side first. All money
# is BIGINT cents (floor(value*100)); a float cumulative would make
# the crossover set order-dependent.
# ---------------------------------------------------------------------------

_TPCDS_Q51_CROSSOVER_SQL = """
WITH click_daily AS (
    SELECT user_id, CAST(ts AS DATE) AS d,
           sum(CAST(floor(value * 100) AS BIGINT)) AS cents
    FROM events WHERE event_type = 'click'
    GROUP BY user_id, CAST(ts AS DATE)
),
purchase_daily AS (
    SELECT user_id, CAST(ts AS DATE) AS d,
           sum(CAST(floor(value * 100) AS BIGINT)) AS cents
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id, CAST(ts AS DATE)
),
click_cum AS (
    SELECT user_id, d,
           sum(cents) OVER (
               PARTITION BY user_id ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS cum
    FROM click_daily
),
purchase_cum AS (
    SELECT user_id, d,
           sum(cents) OVER (
               PARTITION BY user_id ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS cum
    FROM purchase_daily
),
joined AS (
    SELECT COALESCE(c.user_id, p.user_id) AS user_id,
           COALESCE(c.d, p.d) AS d,
           c.cum AS click_cum_raw,
           p.cum AS purchase_cum_raw
    FROM click_cum c
    FULL OUTER JOIN purchase_cum p
      ON c.user_id = p.user_id AND c.d = p.d
),
carried AS (
    SELECT user_id, d,
           max(click_cum_raw) OVER (
               PARTITION BY user_id ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS click_cum,
           max(purchase_cum_raw) OVER (
               PARTITION BY user_id ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS purchase_cum
    FROM joined
)
SELECT user_id, CAST(d AS DATE) AS d,
       CAST(click_cum AS BIGINT) AS click_cum,
       CAST(purchase_cum AS BIGINT) AS purchase_cum
FROM carried
WHERE click_cum IS NOT NULL AND purchase_cum IS NOT NULL
  AND click_cum > purchase_cum
"""


@register(
    "tpcds_q51_cumulative_crossover",
    _TPCDS_Q51_CROSSOVER_SQL,
    doc="TPC-DS Q51 shape: per-user cumulative daily cents in two "
    "channels, FULL OUTER join on (user, day), running-MAX carry "
    "across each side's missing days, crossover filter — one "
    "user-keyed partitioning reused by cumulative windows, join and "
    "carry under AQE; portable SQL is query and oracle",
)
def q_tpcds_q51_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_TPCDS_Q51_CROSSOVER_SQL)


# ---------------------------------------------------------------------------
# Q57 shape: monthly channel revenue vs the channel-year average, the
# deviation filter kept EXACT (10*|n*sum_m - year_total| > year_total
# instead of abs(sum/avg - 1) > 0.1 — no float average in a
# predicate), neighbor months attached by the rank self-join exactly
# as Q57's v2 does (not lag/lead — the join-by-rank formulation is
# the shape this batch adds).
# ---------------------------------------------------------------------------

_TPCDS_Q57_SQL = """
WITH monthly AS (
    SELECT event_type,
           CAST(EXTRACT(YEAR FROM ts) AS BIGINT) AS yr,
           CAST(EXTRACT(MONTH FROM ts) AS BIGINT) AS mo,
           sum(CAST(floor(value * 100) AS BIGINT)) AS cents
    FROM events
    GROUP BY 1, 2, 3
),
v1 AS (
    SELECT event_type, yr, mo, cents,
           sum(cents) OVER (PARTITION BY event_type, yr) AS year_total,
           count(*) OVER (PARTITION BY event_type, yr) AS n_months,
           row_number() OVER (
               PARTITION BY event_type ORDER BY yr, mo
           ) AS rn
    FROM monthly
)
SELECT v.event_type, v.yr, v.mo,
       CAST(v.cents AS BIGINT) AS month_cents,
       CAST(v.year_total AS BIGINT) AS year_total,
       CAST(prev.cents AS BIGINT) AS prev_cents,
       CAST(nxt.cents AS BIGINT) AS next_cents
FROM v1 v
JOIN v1 prev ON prev.event_type = v.event_type AND prev.rn = v.rn - 1
JOIN v1 nxt  ON nxt.event_type = v.event_type AND nxt.rn = v.rn + 1
WHERE v.year_total > 0
  AND 10 * abs(v.n_months * v.cents - v.year_total) > v.year_total
"""


@register(
    "tpcds_q57_monthly_deviation",
    _TPCDS_Q57_SQL,
    doc="TPC-DS Q57 shape: monthly channel cents vs channel-year "
    "average with the deviation predicate cross-multiplied into "
    "exact BIGINT (10*|n*sum - total| > total), neighbor months via "
    "the rank self-join of Q57's v2; portable SQL is query and "
    "oracle",
)
def q_tpcds_q57(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_TPCDS_Q57_SQL)


# ---------------------------------------------------------------------------
# TPC-DS batch 6: Q80's channel netting census — per
# channel, sales LEFT JOIN returns (missing returns coalesce to 0:
# the outer-join netting), UNION ALL across the three channels, then
# ROLLUP(channel, brand) with grouping markers. The one TPC-DS
# composition the suite lacked: outer-join netting UNDER a rollup.
# Channels = a supplier-derived mode dimension (the synthetic
# lineitem carries no l_shipmode; l_suppkey % 3 is deterministic in
# both engines); returns = returnflag 'R' rows, exactly Q93's
# self-derived returns convention. Portable SQL text is query and
# oracle, like every TPC batch.
# ---------------------------------------------------------------------------

_TPCDS_Q80_SQL = """
WITH li AS (
    SELECT CASE l_suppkey % 3 WHEN 0 THEN 'AIR'
                              WHEN 1 THEN 'SHIP'
                              ELSE 'TRUCK' END AS channel,
           l_partkey,
           CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
           l_returnflag
    FROM lineitem
),
sales AS (
    SELECT channel, l_partkey, sum(cents) AS s
    FROM li GROUP BY channel, l_partkey
),
rets AS (
    SELECT channel, l_partkey, sum(cents) AS r
    FROM li WHERE l_returnflag = 'R'
    GROUP BY channel, l_partkey
),
net AS (
    SELECT s.channel, s.l_partkey, s.s, coalesce(r.r, 0) AS r
    FROM (SELECT * FROM sales WHERE channel = 'AIR') s
    LEFT JOIN rets r
      ON s.channel = r.channel AND s.l_partkey = r.l_partkey
    UNION ALL
    SELECT s.channel, s.l_partkey, s.s, coalesce(r.r, 0) AS r
    FROM (SELECT * FROM sales WHERE channel = 'SHIP') s
    LEFT JOIN rets r
      ON s.channel = r.channel AND s.l_partkey = r.l_partkey
    UNION ALL
    SELECT s.channel, s.l_partkey, s.s, coalesce(r.r, 0) AS r
    FROM (SELECT * FROM sales WHERE channel = 'TRUCK') s
    LEFT JOIN rets r
      ON s.channel = r.channel AND s.l_partkey = r.l_partkey
),
branded AS (
    SELECT n.channel, p.p_brand, n.s, n.r
    FROM net n JOIN part p ON n.l_partkey = p.p_partkey
)
SELECT channel, p_brand,
       CAST(grouping(channel) AS BIGINT) AS g_ch,
       CAST(grouping(p_brand) AS BIGINT) AS g_br,
       CAST(sum(s) AS BIGINT) AS sales_cents,
       CAST(sum(r) AS BIGINT) AS returns_cents,
       CAST(sum(s) - sum(r) AS BIGINT) AS net_cents,
       CAST(count(*) AS BIGINT) AS n_rows
FROM branded
GROUP BY ROLLUP(channel, p_brand)
"""


@register(
    "tpcds_q80_channel_netting",
    _TPCDS_Q80_SQL,
    doc="TPC-DS Q80 shape: per-channel sales LEFT JOIN returns "
    "(coalesce-0 netting), UNION ALL of the three channels, "
    "ROLLUP(channel, brand) with grouping markers — outer-join "
    "netting under a rollup, exact BIGINT cents; portable SQL is "
    "query and oracle (TPC-DS batch 6)",
)
def q_tpcds_q80(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_TPCDS_Q80_SQL)
