"""Deliberate extensions beyond the reference surface (SURVEY.md §7.3):
grouped aggregation/rollup/cube, join strategies, ranking/frame
windows, date parts, JSON extraction, event-time bucketing.

Reproducibility policy for float aggregates (SURVEY.md §7.5.3): sums
over doubles are order-dependent across partitions, so every matched
sum is computed on DECIMAL(18,n) (exact, associative); averages are
``CAST(decimal_sum AS DOUBLE) / count`` — a single double division
with identical operands in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.rounding import round_half_up, sql_round
from ..io.readers import load_table
from ..operators.aggregates import dec
from ..operators.joins import asof_join
from ..operators.window_metrics import rolling_avg, top_k_per_group
from .registry import register

# ---------------------------------------------------------------------------
# Grouped aggregation (TPC-H Q1 shape) — partial/map-side combine then
# final agg; one shuffle on the (low-cardinality) group key.
# ---------------------------------------------------------------------------

_DISC_PRICE = "l_extendedprice * (1.0 - l_discount)"

_GROUPED_ORACLE = f"""
SELECT l_returnflag,
       l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST({sql_round(_DISC_PRICE, 2)} AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-12-01'
GROUP BY l_returnflag, l_linestatus
"""


@register(
    "grouped_agg_pricing",
    _GROUPED_ORACLE,
    doc="GROUP BY with exact decimal sums + derived avg (SURVEY §2.8 ext)",
)
def q_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.where(F.to_date("l_shipdate") <= F.lit("1998-12-01").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # Decimal sums are exact/associative internally; the terminal
            # cast to double (mirrored by CAST(... AS DOUBLE) in the oracle)
            # keeps the driver's pandas-level hash type-stable — DuckDB's
            # .df() converts DECIMAL to float64, Spark's toPandas() would
            # otherwise emit decimal.Decimal objects.
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(round_half_up(disc_price, 2).cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_disc_price"),
            (
                F.sum(dec("l_quantity")).cast("double") / F.count(F.lit(1))
            ).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Decimal-typed money twin (SURVEY §7.4 decision, round-2 verdict item 7):
# the same Q1 shape with the MONEY columns kept as exact DECIMAL end to
# end — no terminal double. Hash-parity rule for decimals at 100 TB:
# (1) pin every intermediate to an EXPLICIT decimal(p,s) on both engines
#     (each engine's implicit precision-propagation rules differ:
#     Spark sum(decimal(18,4)) -> (28,4), DuckDB -> (38,4));
# (2) compare as canonical decimal STRINGS, never through float64 —
#     toPandas() yields decimal.Decimal while DuckDB .df() yields
#     float64, so a decimal-typed terminal column can never repr-match;
#     both engines render CAST(decimal AS STRING) identically
#     (plain notation, trailing zeros to scale);
# (3) choose intermediate scales the data cannot overflow or round at
#     (price has 2 real dp, discount 2 dp -> the product is exact at
#     scale 4), so no engine-specific rounding mode is ever exercised.
# Decimal sums are associative/exact, so the result is partitioning-
# independent — the property that makes money columns auditable on a
# 1000-executor cluster where double sums are fold-order-dependent.
# ---------------------------------------------------------------------------

_GROUPED_DECIMAL_ORACLE = """
SELECT l_returnflag,
       l_linestatus,
       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS STRING) AS sum_qty_dec,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS STRING) AS sum_base_price_dec,
       CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
                          * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
                          AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS STRING) AS sum_disc_price_dec,
       count(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-12-01'
GROUP BY l_returnflag, l_linestatus
"""


@register(
    "grouped_agg_pricing_decimal",
    _GROUPED_DECIMAL_ORACLE,
    doc="money-typed Q1 twin: exact DECIMAL(18,4) end to end, canonical "
    "decimal-string comparison (SURVEY §7.4 decimal-at-scale decision)",
)
def q_grouped_agg_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = (
        dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount"))
    ).cast("decimal(18,4)")
    return (
        li.where(F.to_date("l_shipdate") <= F.lit("1998-12-01").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity"))
            .cast("decimal(28,4)")
            .cast("string")
            .alias("sum_qty_dec"),
            F.sum(dec("l_extendedprice"))
            .cast("decimal(28,4)")
            .cast("string")
            .alias("sum_base_price_dec"),
            F.sum(disc_price)
            .cast("decimal(28,4)")
            .cast("string")
            .alias("sum_disc_price_dec"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# ROLLUP / CUBE — grouping sets with GROUPING() markers so subtotal
# NULLs are distinguishable from data NULLs.
# ---------------------------------------------------------------------------

_ROLLUP_ORACLE = """
SELECT l_returnflag,
       l_linestatus,
       GROUPING(l_returnflag) AS g_flag,
       GROUPING(l_linestatus) AS g_status,
       count(*) AS n,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


@register(
    "rollup_agg",
    _ROLLUP_ORACLE,
    doc="ROLLUP grouping sets + GROUPING() markers (SURVEY §2.8 ext)",
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("bigint").alias("g_flag"),
        F.grouping("l_linestatus").cast("bigint").alias("g_status"),
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
    )


_CUBE_ORACLE = """
SELECT l_returnflag,
       l_linestatus,
       GROUPING(l_returnflag) AS g_flag,
       GROUPING(l_linestatus) AS g_status,
       count(*) AS n
FROM lineitem
GROUP BY CUBE(l_returnflag, l_linestatus)
"""


@register("cube_agg", _CUBE_ORACLE, doc="CUBE grouping sets (SURVEY §2.8 ext)")
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("bigint").alias("g_flag"),
        F.grouping("l_linestatus").cast("bigint").alias("g_status"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# Broadcast star probe: fact ⨝ two small dims. The dims are broadcast
# explicitly — at 100 TB the fact never shuffles for a dim join.
# ---------------------------------------------------------------------------

_STAR_ORACLE = f"""
SELECT p.p_brand,
       s.s_nationkey,
       count(*) AS n,
       CAST(sum(CAST({sql_round(_DISC_PRICE, 2)} AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
WHERE p.p_size > 30
GROUP BY p.p_brand, s.s_nationkey
"""


@register(
    "broadcast_star_join",
    _STAR_ORACLE,
    doc="fact ⨝ broadcast(part) ⨝ broadcast(supplier) star probe (SURVEY §2.9)",
)
def q_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_size") > 30)
    supp = load_table(spark, sf_dir, "supplier")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy("p_brand", "s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(round_half_up(disc_price, 2).cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Fact-fact join: orders ⨝ lineitem on the shared key. Planned as
# sort-merge (hinted); AQE may convert/split at runtime — that runtime
# re-plan is exactly what we want at 100 TB with skewed keys.
# ---------------------------------------------------------------------------

_FACT_JOIN_ORACLE = f"""
SELECT o.o_orderpriority,
       count(*) AS n_lines,
       count(DISTINCT o.o_orderkey) AS n_orders,
       CAST(sum(CAST({sql_round(_DISC_PRICE, 2)} AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderstatus <> 'P'
GROUP BY o.o_orderpriority
"""


@register(
    "fact_fact_join",
    _FACT_JOIN_ORACLE,
    doc="orders ⨝ lineitem sort-merge + grouped rollup metrics (SURVEY §2.9)",
)
def q_fact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") != "P")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        orders.hint("merge")
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.count_distinct(F.col("o_orderkey")).alias("n_orders"),
            F.sum(round_half_up(disc_price, 2).cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Semi / anti joins — existence probes without payload duplication.
# ---------------------------------------------------------------------------

_SEMI_ORACLE = """
SELECT c.c_custkey, c.c_name, c.c_acctbal, c.c_mktsegment
FROM customer c
WHERE EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
)
"""


@register(
    "semi_join_customers",
    _SEMI_ORACLE,
    doc="left-semi existence probe (SURVEY §2.9 ext)",
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")


_ANTI_ORACLE = """
SELECT c.c_custkey, c.c_name
FROM customer c
WHERE NOT EXISTS (
    SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
)
"""


@register(
    "anti_join_customers",
    _ANTI_ORACLE,
    doc="left-anti (customers with no orders) (SURVEY §2.9 ext)",
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# Ranking windows: top-3 rows per group with a total tie-break order.
# ---------------------------------------------------------------------------

_RANKING_ORACLE = """
SELECT l_returnflag, rnk, l_orderkey, l_linenumber, l_extendedprice
FROM (
    SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
           row_number() OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rnk
    FROM lineitem
) t
WHERE rnk <= 3
"""


@register(
    "ranking_top3_per_flag",
    _RANKING_ORACLE,
    doc="row_number top-k per partition (SURVEY §2.5 ranking ext)",
)
def q_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    ranked = top_k_per_group(
        li.select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"),
        "l_returnflag",
        [F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")],
        k=3,
        rank_col="rnk",
    )
    return ranked.select(
        "l_returnflag", "rnk", "l_orderkey", "l_linenumber", "l_extendedprice"
    )


# ---------------------------------------------------------------------------
# Frame-spec window: trailing 7-row moving average per symbol.
# Exact decimal sum over the frame / frame count — reproducible under
# any evaluation order (Spark re-aggregates frames, DuckDB uses
# segment trees; doubles would drift in the last ulp).
# ---------------------------------------------------------------------------

_ROLLING_ORACLE = """
SELECT symbol, trade_date, order_key, line_number, close,
       CAST(sum(CAST(close AS DECIMAL(18,4))) OVER w AS DOUBLE)
           / count(*) OVER w AS sma7
FROM (
    SELECT l_partkey AS symbol, CAST(l_shipdate AS DATE) AS trade_date,
           l_orderkey AS order_key, l_linenumber AS line_number,
           l_extendedprice AS close
    FROM lineitem
) q
WINDOW w AS (
    PARTITION BY symbol ORDER BY trade_date, order_key, line_number
    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
)
"""


@register(
    "rolling_avg_sma7",
    _ROLLING_ORACLE,
    doc="ROWS frame moving average, order-independent arithmetic (SURVEY §2.5 ext)",
)
def q_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    q = li.select(
        F.col("l_partkey").alias("symbol"),
        F.to_date("l_shipdate").alias("trade_date"),
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_number"),
        F.col("l_extendedprice").alias("close"),
    )
    w = (
        Window.partitionBy("symbol")
        .orderBy("trade_date", "order_key", "line_number")
        .rowsBetween(-6, Window.currentRow)
    )
    return q.withColumn(
        "sma7",
        F.sum(dec("close")).over(w).cast("double") / F.count(F.lit(1)).over(w),
    )


# ---------------------------------------------------------------------------
# Date-part functions (SURVEY §2.10) over the orders timeline.
# ---------------------------------------------------------------------------

_DATE_PARTS_ORACLE = """
SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year,
       CAST(EXTRACT(QUARTER FROM o_orderdate) AS BIGINT) AS order_quarter,
       count(*) AS n,
       CAST(min(o_orderdate) AS DATE) AS first_day,
       CAST(max(o_orderdate) AS DATE) AS last_day,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
FROM orders
GROUP BY 1, 2
"""


@register(
    "date_parts_agg",
    _DATE_PARTS_ORACLE,
    doc="EXTRACT year/quarter + date min/max (SURVEY §2.10)",
)
def q_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").cast("bigint").alias("order_year"),
            F.quarter("o_orderdate").cast("bigint").alias("order_quarter"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.to_date("o_orderdate")).alias("first_day"),
            F.max(F.to_date("o_orderdate")).alias("last_day"),
            F.sum(dec("o_totalprice")).cast("double").alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# JSON extraction from events.props (SURVEY §2.10 ext). regexp_extract
# keeps the oracle engine-neutral; the typed from_json path is
# exercised in streaming/ and tests.
# ---------------------------------------------------------------------------

_JSON_ORACLE = r"""
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
       min(CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS BIGINT)) AS min_k,
       max(CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
"""


@register(
    "json_props_agg",
    _JSON_ORACLE,
    doc="JSON field extraction + grouped agg on events.props (SURVEY §2.10 ext)",
)
def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.regexp_extract("props", r'"k":\s*(-?\d+)', 1).cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


# ---------------------------------------------------------------------------
# Event-time bucketing: tumbling 1-hour windows as a batch query (the
# streaming twin with watermark lives in streaming/events.py).
# ---------------------------------------------------------------------------

_HOURLY_ORACLE = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
       event_type,
       count(*) AS n,
       count(DISTINCT user_id) AS n_users,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


@register(
    "hourly_event_agg",
    _HOURLY_ORACLE,
    doc="tumbling event-time buckets, batch twin of the streaming agg (SURVEY §2.11)",
)
def q_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour_start"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("user_id").alias("n_users"),
            F.sum(dec("value")).cast("double").alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# As-of join (custom operator — Spark has no native ASOF): for each
# purchase event, the latest signup at-or-before it by the same user.
# Oracle uses DuckDB's native ASOF JOIN; ours is the union-tag-window
# composition in operators/joins.py.
# ---------------------------------------------------------------------------

_ASOF_ORACLE = """
SELECT p.event_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
       strftime(s.ts, '%Y-%m-%d %H:%M:%S.%f') AS matched_signup_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
    ON p.user_id = s.user_id AND p.ts >= s.ts
"""


@register(
    "asof_join_events",
    _ASOF_ORACLE,
    doc="point-in-time as-of join via union+window (SURVEY §2.9 custom op)",
)
def q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    signups = ev.where(F.col("event_type") == "signup").select("user_id", "ts")
    joined = asof_join(
        purchases, signups, ["user_id"], "ts", "ts", right_payload=["ts"]
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return joined.select(
        "event_id",
        F.date_format("ts", fmt).alias("purchase_ts"),
        F.date_format("matched_ts", fmt).alias("matched_signup_ts"),
    )


# ---------------------------------------------------------------------------
# Salted fact-fact join (SURVEY §7.4 skew path): row-identical to the
# plain join — the oracle IS the plain join — but executed on the
# composite (key, salt) so one hot orderkey spreads over 8 reducers.
# ---------------------------------------------------------------------------

_SALTED_JOIN_ORACLE = f"""
SELECT o.o_orderpriority,
       count(*) AS n_lines,
       CAST(sum(CAST({sql_round(_DISC_PRICE, 2)} AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
"""


@register(
    "skew_salted_join",
    _SALTED_JOIN_ORACLE,
    doc="deterministically salted join == plain join; explicit skew tool for "
    "when AQE can't re-plan (SURVEY §7.4)",
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    joined = salted_join(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        orders,
        on="o_orderkey",
        salt_source="l_linenumber",
        n_salts=8,
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(round_half_up(disc_price, 2).cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )


# ---------------------------------------------------------------------------
# Set operations beyond union (SURVEY §2.6 ext): INTERSECT / EXCEPT on
# the customer cohorts of two order years, tagged into one result.
# ---------------------------------------------------------------------------

_SET_OPS_ORACLE = """
WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
     b AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
SELECT 'both' AS cohort, o_custkey
FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
UNION ALL
SELECT 'only_1995' AS cohort, o_custkey
FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
"""


@register(
    "set_ops_cohorts",
    _SET_OPS_ORACLE,
    doc="INTERSECT/EXCEPT customer cohorts across order years (SURVEY §2.6 ext)",
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    a = orders.where(F.year("o_orderdate") == 1995).select("o_custkey").distinct()
    b = orders.where(F.year("o_orderdate") == 1996).select("o_custkey").distinct()
    both = a.intersect(b).select(F.lit("both").alias("cohort"), "o_custkey")
    only_a = a.exceptAll(b).select(F.lit("only_1995").alias("cohort"), "o_custkey")
    return both.unionByName(only_a)


# ---------------------------------------------------------------------------
# Pivot (conditional aggregation): event counts per user bucket,
# one column per event type. Fixed pivot values → stable schema.
# ---------------------------------------------------------------------------

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_PIVOT_ORACLE = f"""
SELECT CAST(user_id % 10 AS BIGINT) AS bucket,
       {", ".join(f"count(*) FILTER (WHERE event_type = '{t}') AS {t}" for t in _EVENT_TYPES)}
FROM events
GROUP BY 1
"""


@register(
    "pivot_event_counts",
    _PIVOT_ORACLE,
    doc="pivot on event_type with fixed value list == conditional agg (ext)",
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pivoted = (
        ev.withColumn("bucket", F.pmod(F.col("user_id"), F.lit(10)).cast("bigint"))
        .groupBy("bucket")
        .pivot("event_type", _EVENT_TYPES)
        .count()
    )
    # pivot yields NULL for empty cells; the oracle's FILTER count gives 0.
    return pivoted.select(
        "bucket", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in _EVENT_TYPES]
    )


# ---------------------------------------------------------------------------
# RANGE-frame window (SURVEY §2.5 ext): trailing-7-day spend per
# customer — a time-range frame, not a row-count frame (sma7 covers
# that). Decimal sum domain keeps float order-dependence out.
# ---------------------------------------------------------------------------

_RANGE_WINDOW_ORACLE = """
SELECT o_custkey,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_ts,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate
           RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS trailing_7d_spend
FROM orders
"""


@register(
    "range_window_trailing_spend",
    _RANGE_WINDOW_ORACLE,
    doc="trailing-7-day RANGE frame window per customer (SURVEY §2.5 ext)",
)
def q_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    # TIMESTAMP_NTZ → epoch seconds needs the two-step cast (ntz→tz is
    # wall-clock-preserving under the UTC session harden()).
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-7 * 86400, 0)
    )
    return orders.select(
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("order_ts"),
        F.sum(dec("o_totalprice")).over(w).cast("double").alias("trailing_7d_spend"),
    )


# ---------------------------------------------------------------------------
# String-function suite (SURVEY §2.10): the scalar functions the
# reference uses (trim/translate/length/regex classes) plus common
# neighbors, all Catalyst built-ins with exact DuckDB twins.
# ---------------------------------------------------------------------------

_STRING_FUNCS_ORACLE = """
SELECT c_custkey,
       upper(c_name) AS name_upper,
       substr(c_name, 10, 9) AS id_digits,
       regexp_extract(c_name, '#(\\d+)', 1) AS id_via_regex,
       CAST(length(c_name) AS INT) AS name_len,
       concat_ws('-', c_mktsegment, CAST(c_custkey AS VARCHAR)) AS seg_key,
       lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS padded_key,
       translate(c_name, '#', '_') AS name_translated
FROM customer
"""


@register(
    "string_functions_suite",
    _STRING_FUNCS_ORACLE,
    doc="scalar string functions (upper/substr/regexp/lpad/translate/concat_ws) "
    "— SURVEY §2.10",
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 10, 9).alias("id_digits"),
        F.regexp_extract("c_name", r"#(\d+)", 1).alias("id_via_regex"),
        F.length("c_name").cast("int").alias("name_len"),
        F.concat_ws("-", "c_mktsegment", F.col("c_custkey").cast("string")).alias(
            "seg_key"
        ),
        F.lpad(F.col("c_custkey").cast("string"), 12, "0").alias("padded_key"),
        F.translate("c_name", "#", "_").alias("name_translated"),
    )


# ---------------------------------------------------------------------------
# Pure SQL API surface: the same engine through spark.sql over
# registered views. The SQL text below is dialect-portable — it runs
# VERBATIM in Spark SQL (the query) and DuckDB (the oracle), which is
# itself the parity statement.
# ---------------------------------------------------------------------------

_SQL_API_TEXT = f"""
SELECT o.o_orderkey,
       o.o_orderpriority,
       CAST(sum(CAST({sql_round('l.l_extendedprice * (1.0 - l.l_discount)', 2)}
           AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND CAST(l.l_shipdate AS DATE) > DATE '1995-03-15'
GROUP BY o.o_orderkey, o.o_orderpriority
ORDER BY revenue DESC, o.o_orderkey
LIMIT 10
"""


@register(
    "sql_api_shipping_priority",
    _SQL_API_TEXT,
    doc="TPC-H Q3-shaped query through spark.sql; one dialect-portable SQL "
    "text is both the query and its oracle (SURVEY §3 SQL entry point)",
)
def q_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_API_TEXT)


# ---------------------------------------------------------------------------
# Correlated subqueries (EXISTS + scalar) — one dialect-portable SQL
# text for both engines; Catalyst decorrelates into joins
# (DecorrelateInnerQuery, SURVEY §4.1).
# ---------------------------------------------------------------------------

_CORRELATED_SQL = """
SELECT c.c_custkey, c.c_mktsegment
FROM customer c
WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
      )
  AND c.c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
                     WHERE c2.c_nationkey = c.c_nationkey)
"""


@register(
    "correlated_subqueries",
    _CORRELATED_SQL,
    doc="EXISTS + correlated scalar subquery, decorrelated by Catalyst; one "
    "portable SQL text is query and oracle (SURVEY §4.1)",
)
def q_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(_CORRELATED_SQL)


# ---------------------------------------------------------------------------
# Analytic ranking suite: dense_rank / ntile / percent_rank / cume_dist
# under a total order (tie-broken), so every value is deterministic;
# the ratio-valued functions are single double divisions of identical
# integers in both engines.
# ---------------------------------------------------------------------------

_RANKING_SUITE_ORACLE = """
SELECT o_orderkey,
       o_orderpriority,
       dense_rank() OVER w AS drank,
       ntile(4) OVER w AS quartile,
       percent_rank() OVER w AS prank,
       cume_dist() OVER w AS cdist
FROM orders
WHERE o_orderkey % 37 = 0
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
"""


@register(
    "ranking_function_suite",
    _RANKING_SUITE_ORACLE,
    doc="dense_rank/ntile/percent_rank/cume_dist under total order "
    "(SURVEY §2.5 ext)",
)
def q_ranking_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") % 37 == 0
    )
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.dense_rank().over(w).cast("bigint").alias("drank"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.percent_rank().over(w).alias("prank"),
        F.cume_dist().over(w).alias("cdist"),
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
# SMA crossover signals (round-4 ext): the reference's own analytics
# domain — fast/slow moving-average golden/death crosses per symbol.
# Pure windows over one shuffle (both SMAs + the lag share the same
# partition/order). Determinism: each SMA is an exact decimal window
# sum cast to double over a ROWS frame (the rolling_avg_sma7 recipe),
# so the sign tests compare bit-identical doubles on both engines.
# ---------------------------------------------------------------------------

_SMA_FAST, _SMA_SLOW = 5, 20

_CROSSOVER_ORACLE = f"""
WITH priced AS (
    SELECT l_partkey AS symbol, CAST(l_shipdate AS DATE) AS trade_date,
           l_orderkey AS order_key, l_linenumber AS line_number,
           l_extendedprice AS close
    FROM lineitem
),
sma AS (
    SELECT symbol, trade_date, order_key, line_number,
           CAST(sum(CAST(close AS DECIMAL(18,4))) OVER wf AS DOUBLE)
               / count(*) OVER wf AS sma_fast,
           CAST(sum(CAST(close AS DECIMAL(18,4))) OVER ws AS DOUBLE)
               / count(*) OVER ws AS sma_slow
    FROM priced
    WINDOW wf AS (PARTITION BY symbol ORDER BY trade_date, order_key, line_number
                  ROWS BETWEEN {_SMA_FAST - 1} PRECEDING AND CURRENT ROW),
         ws AS (PARTITION BY symbol ORDER BY trade_date, order_key, line_number
                  ROWS BETWEEN {_SMA_SLOW - 1} PRECEDING AND CURRENT ROW)
),
diffed AS (
    SELECT symbol, trade_date, order_key, line_number, sma_fast, sma_slow,
           sma_fast - sma_slow AS d,
           lag(sma_fast - sma_slow) OVER (
               PARTITION BY symbol ORDER BY trade_date, order_key, line_number
           ) AS prev_d
    FROM sma
)
SELECT symbol, trade_date, order_key, line_number, sma_fast, sma_slow,
       CASE WHEN prev_d <= 0 AND d > 0 THEN 'golden_cross'
            ELSE 'death_cross' END AS signal
FROM diffed
WHERE (prev_d <= 0 AND d > 0) OR (prev_d >= 0 AND d < 0)
"""


@register(
    "sma_crossover_signals",
    _CROSSOVER_ORACLE,
    doc="fast/slow SMA golden/death crossover detection per symbol — the "
    "reference's analytics domain, pure windows, one shuffle "
    "(SURVEY §2.5 ext, r4)",
)
def q_sma_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    priced = li.select(
        F.col("l_partkey").alias("symbol"),
        F.to_date("l_shipdate").alias("trade_date"),
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_number"),
        F.col("l_extendedprice").alias("close"),
    )
    order = ["trade_date", "order_key", "line_number"]
    base = Window.partitionBy("symbol").orderBy(*order)
    wf = base.rowsBetween(-(_SMA_FAST - 1), Window.currentRow)
    ws = base.rowsBetween(-(_SMA_SLOW - 1), Window.currentRow)

    def sma(w):
        return F.sum(dec("close")).over(w).cast("double") / F.count(F.lit(1)).over(w)

    diffed = (
        priced.withColumn("sma_fast", sma(wf))
        .withColumn("sma_slow", sma(ws))
        .withColumn("d", F.col("sma_fast") - F.col("sma_slow"))
        .withColumn("prev_d", F.lag("d").over(base))
    )
    up = (F.col("prev_d") <= 0) & (F.col("d") > 0)
    down = (F.col("prev_d") >= 0) & (F.col("d") < 0)
    return diffed.where(up | down).select(
        "symbol", "trade_date", "order_key", "line_number",
        "sma_fast", "sma_slow",
        F.when(up, F.lit("golden_cross")).otherwise(F.lit("death_cross")).alias("signal"),
    )


# ---------------------------------------------------------------------------
# Max drawdown per symbol (round-4 ext): peak-to-trough loss off the
# running maximum — the classic risk metric for the reference's
# domain. Every step is order-free-exact: running max of 2-dp prices
# is exact double comparison, each drawdown is one division of exact
# doubles, and the final max picks among deterministic values.
# ---------------------------------------------------------------------------

_DRAWDOWN_ORACLE = """
WITH priced AS (
    SELECT l_partkey AS symbol, CAST(l_shipdate AS DATE) AS trade_date,
           l_orderkey AS order_key, l_linenumber AS line_number,
           l_extendedprice AS close
    FROM lineitem
),
tracked AS (
    SELECT symbol, close,
           max(close) OVER (
               PARTITION BY symbol ORDER BY trade_date, order_key, line_number
               ROWS UNBOUNDED PRECEDING
           ) AS run_max
    FROM priced
)
SELECT symbol,
       max((run_max - close) / run_max) AS max_drawdown,
       max(run_max) AS peak_close,
       CAST(count(*) AS BIGINT) AS n_bars
FROM tracked
GROUP BY symbol
"""


@register(
    "max_drawdown_per_symbol",
    _DRAWDOWN_ORACLE,
    doc="max peak-to-trough drawdown off the running max per symbol — "
    "order-free-exact window arithmetic (SURVEY §2.5 ext, r4)",
)
def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    priced = li.select(
        F.col("l_partkey").alias("symbol"),
        F.to_date("l_shipdate").alias("trade_date"),
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_number"),
        F.col("l_extendedprice").alias("close"),
    )
    w = (
        Window.partitionBy("symbol")
        .orderBy("trade_date", "order_key", "line_number")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tracked = priced.withColumn("run_max", F.max("close").over(w))
    dd = (F.col("run_max") - F.col("close")) / F.col("run_max")
    return tracked.groupBy("symbol").agg(
        F.max(dd).alias("max_drawdown"),
        F.max("run_max").alias("peak_close"),
        F.count(F.lit(1)).cast("bigint").alias("n_bars"),
    )


# ---------------------------------------------------------------------------
# VWAP per symbol-day (round-4 ext): the volume-weighted price every
# execution desk computes. Exact decimal numerator/denominator (the
# weighted_avg_pricing recipe) — the division happens once, in double,
# identically on both engines.
# ---------------------------------------------------------------------------

_VWAP_ORACLE = """
SELECT l_partkey AS symbol,
       CAST(l_shipdate AS DATE) AS trade_date,
       CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,4))
                     * CAST(l_extendedprice AS DECIMAL(18,4)) AS DECIMAL(28,8)))
            AS DOUBLE)
           / CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS vwap,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
FROM lineitem
GROUP BY 1, 2
"""


@register(
    "vwap_per_symbol_day",
    _VWAP_ORACLE,
    doc="volume-weighted average price per symbol-day; exact decimal "
    "num/den, one double division (SURVEY §2.8 ext, r4)",
)
def q_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    num = F.sum((dec("l_quantity") * dec("l_extendedprice")).cast("decimal(28,8)"))
    den = F.sum(dec("l_quantity"))
    return li.groupBy(
        F.col("l_partkey").alias("symbol"),
        F.to_date("l_shipdate").alias("trade_date"),
    ).agg(
        (num.cast("double") / den.cast("double")).alias("vwap"),
        F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("total_qty"),
    )


# ---------------------------------------------------------------------------
# ABC / Pareto classification (round-4 ext): parts ranked by exact
# decimal revenue; class A carries the first 80% of cumulative share,
# B to 95%, C the tail. Cumulative sums are decimal (associative), the
# share division is one double op per row, and ties in revenue are
# broken by part key — fully deterministic classification.
# ---------------------------------------------------------------------------

_ABC_ORACLE = """
WITH rev AS (
    SELECT l_partkey,
           sum(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
                    AS DECIMAL(18,4))) AS revenue
    FROM lineitem GROUP BY l_partkey
),
ranked AS (
    SELECT l_partkey, revenue,
           CAST(sum(revenue) OVER (ORDER BY revenue DESC, l_partkey
                                   ROWS UNBOUNDED PRECEDING) AS DOUBLE)
               / CAST(sum(revenue) OVER () AS DOUBLE) AS cum_share
    FROM rev
)
SELECT l_partkey,
       CAST(revenue AS DOUBLE) AS revenue,
       cum_share,
       CASE WHEN cum_share <= 0.80 THEN 'A'
            WHEN cum_share <= 0.95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM ranked
"""


@register(
    "abc_pareto_classification",
    _ABC_ORACLE,
    doc="ABC/Pareto revenue classification via decimal cumulative share "
    "(80/95 cut; deterministic tie-break) (SURVEY §2.5 ext, r4)",
)
def q_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    disc = (
        dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount"))
    ).cast("decimal(18,4)")
    rev = li.groupBy("l_partkey").agg(F.sum(disc).alias("revenue"))
    # Running share WITHOUT the single-task unpartitioned window (and
    # without the equally-single-task Window.partitionBy() total):
    # distributed range-sorted cumulative sum + a broadcast 1-row
    # grand total (r6 rework; operators/window_metrics).
    from ..operators.window_metrics import with_global_cumsum

    rev = rev.withColumn("__negrev__", -F.col("revenue"))
    cum = with_global_cumsum(
        rev, ["__negrev__", "l_partkey"], "revenue", "cum_rev"
    ).drop("__negrev__")
    total = rev.agg(F.sum("revenue").alias("__total__"))
    classified = (
        cum.join(F.broadcast(total))
        .withColumn(
            "cum_share",
            F.col("cum_rev").cast("double") / F.col("__total__").cast("double"),
        )
        .drop("cum_rev", "__total__")
    )
    return classified.select(
        "l_partkey",
        F.col("revenue").cast("double").alias("revenue"),
        "cum_share",
        F.when(F.col("cum_share") <= 0.80, F.lit("A"))
        .when(F.col("cum_share") <= 0.95, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )


# ---------------------------------------------------------------------------
# Market-basket co-occurrence (round-4 ext): part pairs appearing in
# the same order, support >= 5 — the association-analysis shape. The
# self-join key is the order, pairs are canonicalized a < b, and only
# (order, part) ids ever shuffle. At 100 TB the guard is the per-order
# line cap (baskets are small), so pairs ∝ orders × basket², not
# parts².
# ---------------------------------------------------------------------------

_BASKET_ORACLE = """
WITH items AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       CAST(count(*) AS BIGINT) AS support
FROM items a JOIN items b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
HAVING count(*) >= 5
"""


@register(
    "basket_part_cooccurrence",
    _BASKET_ORACLE,
    doc="market-basket co-occurring part pairs with min support 5; ids-only "
    "self-join per order (SURVEY §2.9 ext, r4)",
)
def q_basket_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_a"))
    b = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, "l_orderkey")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .where(F.col("support") >= 5)
    )


# ---------------------------------------------------------------------------
# Regex function suite (round-4 ext): extract / replace / count /
# boolean-match over the documents corpus — the §2.10 surface the
# string suite doesn't cover. Patterns stay in the RE2-portable subset
# (no backrefs/lookaround) so Java regex and DuckDB RE2 agree.
# ---------------------------------------------------------------------------

_REGEX_SUITE_ORACLE = r"""
SELECT doc_id,
       regexp_extract(text, '([a-z]+)o([a-z]+)', 1) AS first_o_prefix,
       regexp_replace(text, '[aeiou]', '_', 'g') AS devoweled_head,
       CAST(len(regexp_extract_all(text, '[a-z]+a[a-z]*')) AS BIGINT) AS a_words,
       CAST(regexp_matches(text, 'table|window') AS BOOLEAN) AS mentions_relop,
       CAST(regexp_matches(text, '^[a-z]') AS BOOLEAN) AS starts_lower
FROM (SELECT doc_id, substr(text, 1, 60) AS text FROM documents)
WHERE doc_id % 7 = 0
"""


@register(
    "regex_functions_suite",
    _REGEX_SUITE_ORACLE,
    doc="regex surface: extract group / global replace / match count / "
    "boolean rlike on RE2-portable patterns (SURVEY §2.10 ext, r4)",
)
def q_regex_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 7 == 0)
        .select("doc_id", F.substring("text", 1, 60).alias("text"))
    )
    return docs.select(
        "doc_id",
        F.regexp_extract("text", r"([a-z]+)o([a-z]+)", 1).alias("first_o_prefix"),
        F.regexp_replace("text", r"[aeiou]", "_").alias("devoweled_head"),
        F.size(F.regexp_extract_all("text", F.lit(r"[a-z]+a[a-z]*"), 0))
        .cast("bigint")
        .alias("a_words"),
        F.col("text").rlike("table|window").alias("mentions_relop"),
        F.col("text").rlike("^[a-z]").alias("starts_lower"),
    )


# ---------------------------------------------------------------------------
# Bitwise aggregate suite (round-4 ext): bit_and / bit_or / bit_xor
# rollups plus shift/mask scalars — exact integer ops, identical on
# any engine.
# ---------------------------------------------------------------------------

_BITWISE_ORACLE = """
SELECT o_orderpriority,
       CAST(bit_and(CAST(o_orderkey % 4096 AS BIGINT)) AS BIGINT) AS key_bits_and,
       CAST(bit_or(CAST(o_orderkey % 4096 AS BIGINT)) AS BIGINT) AS key_bits_or,
       CAST(bit_xor(CAST(o_orderkey % 4096 AS BIGINT)) AS BIGINT) AS key_bits_xor,
       CAST(sum(CAST((CAST(o_custkey AS BIGINT) >> 3) & 15 AS BIGINT)) AS BIGINT)
           AS shifted_nibble_sum
FROM orders
GROUP BY o_orderpriority
"""


@register(
    "bitwise_agg_suite",
    _BITWISE_ORACLE,
    doc="bit_and/bit_or/bit_xor aggregates + shift/mask scalars — exact "
    "integer surface (SURVEY §2.10 ext, r4)",
)
def q_bitwise_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    keybits = (F.col("o_orderkey") % 4096).cast("bigint")
    nibble = F.shiftright(F.col("o_custkey").cast("bigint"), 3).bitwiseAND(15)
    return orders.groupBy("o_orderpriority").agg(
        F.bit_and(keybits).cast("bigint").alias("key_bits_and"),
        F.bit_or(keybits).cast("bigint").alias("key_bits_or"),
        F.bit_xor(keybits).cast("bigint").alias("key_bits_xor"),
        F.sum(nibble.cast("bigint")).cast("bigint").alias("shifted_nibble_sum"),
    )


# ---------------------------------------------------------------------------
# Triangle enumeration on the co-purchase graph (round-5 ext): the
# classic distributed graph-join discipline test. Edges = part pairs
# co-occurring in >= 2 orders (the basket graph, 3.4k edges / 61
# triangles at sf0.01 — organic positives). The Spark side runs the
# DEGREE-ORDERED node-iterator: orient every edge from its
# (degree, id)-smaller endpoint, build wedges only from each node's
# out-edges, close them with a third oriented-edge join. Orientation
# bounds every out-degree by O(sqrt(E)) on skewed graphs, so wedge
# fan-out tracks arboricity, not max degree — the difference between
# a plan that survives a power-law graph and one that dies on its
# hottest node. Each triangle is found exactly once (its vertices are
# totally ordered by (deg, id)); emitted as plain-id-sorted (u, v, w)
# to match the naive three-way self-join the oracle runs.
# ---------------------------------------------------------------------------

_TRIANGLE_SUPPORT = 2

_TRIANGLE_ORACLE = f"""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
    SELECT a.l_partkey AS u, b.l_partkey AS v
    FROM items a JOIN items b USING (l_orderkey)
    WHERE a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING count(*) >= {_TRIANGLE_SUPPORT}
)
SELECT e1.u AS u, e1.v AS v, e2.v AS w
FROM edges e1
JOIN edges e2 ON e2.u = e1.v
JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
"""


@register(
    "triangle_count_basket",
    _TRIANGLE_ORACLE,
    doc="triangle enumeration via degree-ordered node-iterator "
    "(out-degree bounded by O(sqrt E) under orientation — survives "
    "power-law graphs); oracle is the naive 3-way self-join "
    "(SURVEY §2.9 ext, r5)",
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("pu"))
    b = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("pv"))
    edges = (
        a.join(b, "l_orderkey")
        .where(F.col("pu") < F.col("pv"))
        .groupBy("pu", "pv")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= _TRIANGLE_SUPPORT)
        .select(F.col("pu").alias("u"), F.col("pv").alias("v"))
    )
    from ..operators.graph import enumerate_triangles

    return enumerate_triangles(edges)


# ---------------------------------------------------------------------------
# Entity resolution (round-5 ext; candidate generation reworked in r6
# per the round-5 verdict): blocking + fuzzy-score matching — the
# classic record-linkage shape. Dirty duplicates are planted
# deterministically (custkey%20==0 → copy at key+1M with one name
# character replaced, Levenshtein distance exactly 1); the MATCH
# DEFINITION (the oracle) is: same (nationkey, mktsegment) and
# Levenshtein <= 1. Organic near-matches (synthetic names differing
# in one digit) are part of the expected result — fuzzy matching
# SHOULD surface them.
#
# Candidate generation: the r5 plan joined all pairs within the
# (nationkey, mktsegment) block — only ~125 distinct values, so block
# sizes grow linearly with the corpus and pair counts quadratically
# (n²/125 at 100× data: a scale-killer, r5 verdict). r6 blocks on the
# DELETION NEIGHBORHOOD instead (FastSS / SymSpell family): each name
# contributes {name} ∪ {name minus one char} as block keys, and any
# pair at Levenshtein distance <= 1 provably shares at least one key
# (substitution → the common deletion at the edited position;
# insert/delete → the shorter string itself; identity → the name).
# Exact recall with NEAR-UNIQUE key cardinality: bucket sizes track
# true-duplicate multiplicity, not corpus size, so candidate pairs
# grow ~linearly with the corpus (measured 10×: BASELINE.md §8
# "Entity resolution"). Cost is a length+1 key fan-out on the
# name column only — at 100 TB the plan is explode → one shuffle on
# the variant key → bounded bucket join → distinct pairs → exact
# Levenshtein verify; never a per-block all-pairs.
# ---------------------------------------------------------------------------

_ER_OFFSET = 1_000_000

_ER_ORACLE = f"""
WITH base AS (
    SELECT c_custkey, c_name, c_nationkey, c_mktsegment FROM customer
    UNION ALL
    SELECT c_custkey + {_ER_OFFSET},
           substr(c_name, 1, 9) || 'x' || substr(c_name, 11),
           c_nationkey, c_mktsegment
    FROM customer WHERE c_custkey % 20 = 0
)
SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
FROM base a JOIN base b
  ON a.c_nationkey = b.c_nationkey
 AND a.c_mktsegment = b.c_mktsegment
 AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1
"""


def _er_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
    )
    dirty = cust.where(F.col("c_custkey") % 20 == 0).select(
        (F.col("c_custkey") + _ER_OFFSET).alias("c_custkey"),
        F.concat(
            F.substring("c_name", 1, 9), F.lit("x"), F.expr("substr(c_name, 11)")
        ).alias("c_name"),
        "c_nationkey",
        "c_mktsegment",
    )
    return cust.unionByName(dirty)


def er_candidate_pairs(base: DataFrame) -> DataFrame:
    """Candidate stage of deletion-neighborhood blocking: explode each
    record into {name} ∪ del1(name) variant keys, bucket-join on the
    variant, apply the cheap semantic equality filters, dedup pairs.
    The ~linear growth of THIS stage's candidate count with the corpus
    is the scale claim (exactly 10.0x pairs at 10x, BASELINE.md §8).

    The input is round-robined up to core count first
    (``readers.ensure_parallelism`` — no-op whenever the scan already
    yields >= cores splits, i.e. at any real scale): the length+1
    substring-variant explode is this stage's CPU work and otherwise
    runs in a single-row-group test file's one scan task (r15
    continuation A/B: the registered query 2.21 -> 1.11 s at sf0.1,
    outputs identical; plans/r15/er_parallelism_ab.txt)."""
    from ..io.readers import ensure_parallelism

    base = ensure_parallelism(base)
    keyed = base.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        F.explode(
            F.array_union(
                F.array(F.col("c_name")),
                F.expr(
                    "transform(sequence(1, length(c_name)), i -> "
                    "concat(substring(c_name, 1, i-1), "
                    "substring(c_name, i+1, length(c_name))))"
                ),
            )
        ).alias("bkey"),
    )
    a = keyed.select(
        F.col("c_custkey").alias("key_a"),
        F.col("c_name").alias("name_a"),
        F.col("c_nationkey").alias("nat_a"),
        F.col("c_mktsegment").alias("seg_a"),
        "bkey",
    )
    b = keyed.select(
        F.col("c_custkey").alias("key_b"),
        F.col("c_name").alias("name_b"),
        F.col("c_nationkey").alias("nat_b"),
        F.col("c_mktsegment").alias("seg_b"),
        "bkey",
    )
    return (
        a.join(b, "bkey")
        .where(F.col("key_a") < F.col("key_b"))
        # Cheap semantic filters BEFORE the pair-dedup shuffle: a pair
        # colliding on several variants is deduped once, post-filter.
        .where(
            (F.col("nat_a") == F.col("nat_b"))
            & (F.col("seg_a") == F.col("seg_b"))
        )
        .select("key_a", "key_b", "name_a", "name_b")
        .distinct()
    )


def resolve_entities_lev1(base: DataFrame) -> DataFrame:
    """Exact Levenshtein<=1 record linkage via deletion-neighborhood
    blocking (see the section comment above): candidate pairs from
    ``er_candidate_pairs``, then the exact-distance verify. Input:
    columns c_custkey, c_name, c_nationkey, c_mktsegment. Output:
    (key_a, key_b, dist)."""
    dist = F.levenshtein("name_a", "name_b")
    return er_candidate_pairs(base).where(dist <= 1).select(
        "key_a", "key_b", dist.cast("int").alias("dist")
    )


@register(
    "entity_resolution_customers",
    _ER_ORACLE,
    doc="entity resolution: deletion-neighborhood (FastSS) blocking + "
    "integer Levenshtein<=1 verify; exact recall (any dist<=1 pair "
    "shares a delete-one variant), candidate volume ~linear in corpus "
    "(SURVEY §2.9 ext, r5; blocking reworked r6 per verdict)",
)
def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return resolve_entities_lev1(_er_base(spark, sf_dir))


# ---------------------------------------------------------------------------
# Z-order layout key (round-5 ext): interleave the low 16 bits of two
# join/filter dimensions into one Morton key, bucket rows by its high
# bits, and report per-bucket ranges of BOTH dimensions. The point is
# the data-skipping property the per-bucket min/max rows make visible:
# because the curve preserves locality in both dimensions at once, a
# range predicate on EITHER column prunes most buckets by their
# min/max footer stats — the multi-column clustering trick
# (Delta/Iceberg OPTIMIZE ZORDER) that single-column sort can't give.
# At 100 TB this is a write-time layout choice: sort by zkey before
# writing and parquet row-group stats do the pruning. All bit math is
# exact integer shifts/masks generated from one Python loop for both
# engines.
# ---------------------------------------------------------------------------


def _z_spark(a, b):
    z = F.lit(0).cast("bigint")
    for i in range(16):
        z = (
            z.bitwiseOR(F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i))
            .bitwiseOR(
                F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
            )
        )
    return z


def _z_sql(a: str, b: str) -> str:
    parts = []
    for i in range(16):
        parts.append(f"((({a} >> {i}) & 1) << {2 * i})")
        parts.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(parts)


_ZORDER_ORACLE = f"""
WITH keyed AS (
    SELECT l_partkey % 65536 AS pa, l_orderkey % 65536 AS sb,
           {_z_sql("l_partkey % 65536", "l_orderkey % 65536")} AS zkey
    FROM lineitem
)
SELECT CAST(zkey >> 16 AS BIGINT) AS zbucket,
       count(*) AS n_rows,
       CAST(min(pa) AS BIGINT) AS min_part, CAST(max(pa) AS BIGINT) AS max_part,
       CAST(min(sb) AS BIGINT) AS min_ord, CAST(max(sb) AS BIGINT) AS max_ord
FROM keyed
GROUP BY 1
"""


@register(
    "zorder_layout_stats",
    _ZORDER_ORACLE,
    doc="Z-order (Morton) layout key over (partkey, orderkey): per-bucket "
    "min/max of BOTH dimensions shows the multi-column skipping "
    "property a single-column sort cannot give (SURVEY §7.4 ext, r5)",
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % 65536).alias("pa"),
        (F.col("l_orderkey") % 65536).alias("sb"),
    )
    keyed = li.withColumn("zkey", _z_spark(F.col("pa"), F.col("sb")))
    return keyed.groupBy(
        F.shiftright("zkey", 16).cast("bigint").alias("zbucket")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("pa").cast("bigint").alias("min_part"),
        F.max("pa").cast("bigint").alias("max_part"),
        F.min("sb").cast("bigint").alias("min_ord"),
        F.max("sb").cast("bigint").alias("max_ord"),
    )


# ---------------------------------------------------------------------------
# As-of join with TOLERANCE (round-5 ext): pandas merge_asof's
# tolerance semantics — the latest at-or-before match counts only if
# it is within the window (here 2h); staler matches null out. A pure
# projection atop the same union-tag-window operator (one exchange,
# no range cross-join): the nearest match is found first, then aged
# out, which is exactly how merge_asof(tolerance=...) defines it —
# NOT "latest match inside the window" recomputed among older rows.
# ---------------------------------------------------------------------------

_ASOF_TOL_ORACLE = """
SELECT p.event_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
       CASE WHEN s.ts >= p.ts - INTERVAL 2 HOUR
            THEN strftime(s.ts, '%Y-%m-%d %H:%M:%S.%f') END
           AS matched_signup_ts,
       CAST(s.ts IS NOT NULL AND s.ts < p.ts - INTERVAL 2 HOUR
            AS BOOLEAN) AS match_too_old
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
    ON p.user_id = s.user_id AND p.ts >= s.ts
"""


@register(
    "asof_join_tolerance",
    _ASOF_TOL_ORACLE,
    doc="as-of join with merge_asof tolerance semantics (nearest "
    "at-or-before match, nulled when older than 2h) "
    "(SURVEY §2.9 custom-op ext, r5)",
)
def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    signups = ev.where(F.col("event_type") == "signup").select("user_id", "ts")
    joined = asof_join(
        purchases, signups, ["user_id"], "ts", "ts", right_payload=["ts"]
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    in_window = F.col("matched_ts") >= F.col("ts") - F.expr("INTERVAL 2 HOURS")
    return joined.select(
        "event_id",
        F.date_format("ts", fmt).alias("purchase_ts"),
        F.when(in_window, F.date_format("matched_ts", fmt)).alias(
            "matched_signup_ts"
        ),
        (F.col("matched_ts").isNotNull() & ~in_window)
        .alias("match_too_old"),
    )


# ---------------------------------------------------------------------------
# FORWARD as-of join (round-5 ext): for each signup, the EARLIEST
# purchase at-or-after it by the same user (merge_asof
# direction='forward') — time-to-first-conversion, the mirror of the
# backward attribution lookup. Same union-tag-window operator, frame
# flipped to (CURRENT ROW, UNBOUNDED FOLLOWING) with first().
# ---------------------------------------------------------------------------

_ASOF_FWD_ORACLE = """
SELECT s.event_id,
       strftime(s.ts, '%Y-%m-%d %H:%M:%S.%f') AS signup_ts,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS first_purchase_ts
FROM (SELECT * FROM events WHERE event_type = 'signup') s
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
    ON s.user_id = p.user_id AND s.ts <= p.ts
"""


@register(
    "asof_join_forward",
    _ASOF_FWD_ORACLE,
    doc="forward as-of join (earliest at-or-after match — "
    "time-to-first-conversion); same one-shuffle union-tag-window "
    "operator, following frame (SURVEY §2.9 custom-op ext, r5)",
)
def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    signups = ev.where(F.col("event_type") == "signup").select(
        "user_id", "event_id", "ts"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )
    joined = asof_join(
        signups,
        purchases,
        ["user_id"],
        "ts",
        "ts",
        right_payload=["ts"],
        direction="forward",
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return joined.select(
        "event_id",
        F.date_format("ts", fmt).alias("signup_ts"),
        F.date_format("matched_ts", fmt).alias("first_purchase_ts"),
    )
