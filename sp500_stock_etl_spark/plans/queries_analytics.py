"""Aggregate and window analytics (SURVEY.md §7.3): grouped aggregation,
ROLLUP / CUBE / GROUPING SETS, ranking and frame windows, window
navigation, conditional and bitwise aggregates, exact and sketched
quantiles, histograms, sessionization, gap filling, SCD2 history,
funnels, cohorts and incremental aggregate maintenance.

Same reproducibility policy as every plans module: float columns pass
through untouched or go through exact decimal/integer arithmetic
(matched sums on DECIMAL(18,n), averages as one double division);
every computed column is aliased identically in the DataFrame plan and
the DuckDB oracle (driver hashes values after sorting columns by
name).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F
from pyspark.sql.window import Window

from ..functions.rounding import round_half_up, sql_round
from ..io.readers import load_table
from ..operators.aggregates import dec
from ..operators.window_metrics import top_k_per_group
from .registry import register


# ---------------------------------------------------------------------------
# GROUPING SETS — the general form behind rollup/cube (already
# covered); Catalyst expands to an Expand node feeding one hash
# aggregate, i.e. one shuffle regardless of how many sets. grouping()
# flags disambiguate "NULL because aggregated away" from data NULLs.
# ---------------------------------------------------------------------------

_GROUPING_SETS_ORACLE = """
SELECT l_returnflag,
       l_linestatus,
       CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
       CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       count(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


@register(
    "grouping_sets_agg",
    _GROUPING_SETS_ORACLE,
    doc="GROUPING SETS with grouping() markers — Expand + single hash "
    "aggregate, one shuffle for all sets (SURVEY §2.8 ext)",
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.grouping("l_returnflag").cast("bigint").alias("g_flag"),
        F.grouping("l_linestatus").cast("bigint").alias("g_status"),
        F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# Window navigation: lead/lag with offset+default, first/last/nth
# value under explicit ROWS frames and a total order (ties broken by
# key) so every value is deterministic. No arithmetic on the doubles —
# they pass through bit-identically in both engines.
# ---------------------------------------------------------------------------

_NAV_ORACLE = """
SELECT o_orderkey,
       o_orderpriority,
       lead(o_totalprice, 2, -1.0) OVER w AS lead2_price,
       lag(o_totalprice, 2, -1.0) OVER w AS lag2_price,
       first_value(o_totalprice) OVER
         (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_first,
       last_value(o_totalprice) OVER
         (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS remaining_last,
       nth_value(o_totalprice, 3) OVER
         (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS third_price
FROM orders
WHERE o_orderkey % 41 = 0
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey)
"""


@register(
    "window_navigation_suite",
    _NAV_ORACLE,
    doc="lead/lag with default, first/last/nth_value under explicit ROWS "
    "frames (SURVEY §2.5 ext)",
)
def q_window_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") % 41 == 0
    )
    w = W.partitionBy("o_orderpriority").orderBy("o_orderdate", "o_orderkey")
    growing = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    shrinking = w.rowsBetween(W.currentRow, W.unboundedFollowing)
    full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    price = F.col("o_totalprice")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.lead(price, 2, -1.0).over(w).alias("lead2_price"),
        F.lag(price, 2, -1.0).over(w).alias("lag2_price"),
        F.first(price).over(growing).alias("running_first"),
        F.last(price).over(shrinking).alias("remaining_last"),
        F.nth_value(price, 3).over(full).alias("third_price"),
    )


# ---------------------------------------------------------------------------
# Conditional / filtered aggregates: FILTER clause, bool_and/bool_or,
# count-distinct, arg-max with an explicit total-order tiebreak (the
# (value, key) struct) so the winner is unique in both engines.
# ---------------------------------------------------------------------------

_COND_AGG_ORACLE = """
SELECT o_orderpriority,
       count(*) FILTER (WHERE o_totalprice > 100000.0) AS n_big,
       bool_and(o_totalprice > 1000.0) AS all_over_1k,
       bool_or(o_orderstatus = 'F') AS any_finished,
       count(DISTINCT o_orderstatus) AS n_statuses,
       (max(struct_pack(p := o_totalprice, k := o_orderkey))).k AS top_order_key
FROM orders
GROUP BY o_orderpriority
"""


@register(
    "conditional_agg_suite",
    _COND_AGG_ORACLE,
    doc="FILTER-clause counts, bool_and/bool_or, tie-broken arg_max "
    "(SURVEY §2.8 ext)",
)
def q_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.when(F.col("o_totalprice") > 100000.0, 1)).alias("n_big"),
        F.bool_and(F.col("o_totalprice") > 1000.0).alias("all_over_1k"),
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
        F.max(
            F.struct(
                F.col("o_totalprice").alias("p"), F.col("o_orderkey").alias("k")
            )
        )["k"].alias("top_order_key"),
    )


# ---------------------------------------------------------------------------
# Exact quantiles: Spark percentile() == DuckDB quantile_cont (both
# interpolate at p*(n-1)). l_quantity is integral-valued, so the
# interpolated fractions (.25/.5/.75) are exact binary fractions —
# bitwise parity holds regardless of each engine's formula ordering.
# At 100 TB the monitoring path swaps in approx_percentile (t-digest,
# one pass, mergeable) — see tests/test_sketches.py.
# ---------------------------------------------------------------------------

_QUANTILE_ORACLE = """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.25) AS q25,
       quantile_cont(l_quantity, 0.5) AS median_qty,
       quantile_cont(l_quantity, 0.75) AS q75,
       min(l_quantity) AS min_qty,
       max(l_quantity) AS max_qty
FROM lineitem
GROUP BY l_returnflag
"""


@register(
    "exact_quantiles",
    _QUANTILE_ORACLE,
    doc="exact percentile (sort-based) per group; approx_percentile is "
    "the documented 100 TB monitoring variant (SURVEY §2.8 ext)",
)
def q_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.percentile(q, 0.25).alias("q25"),
        F.percentile(q, 0.5).alias("median_qty"),
        F.percentile(q, 0.75).alias("q75"),
        F.min(q).alias("min_qty"),
        F.max(q).alias("max_qty"),
    )


# ---------------------------------------------------------------------------
# Sketch-based monitoring profile — the 100 TB shape of the
# reference's QA aggregates (SURVEY §2.8 A2): approx_count_distinct
# (HLL++, mergeable, fixed memory) and approx_percentile in place of
# exact count-distinct / sort-based percentile, so the whole profile
# is one map-side-combinable pass with no exact-distinct shuffle.
# Sketch outputs are engine-specific, so no DuckDB value oracle
# (rows-only check here); tests/test_sketches.py bounds the error
# against the exact answers instead.
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Grouped-map escape hatch (SURVEY §2.12): the reference's per-symbol
# loop body (dags/sp500_dag.py.py:95-207) IS a grouped-map UDF — one
# group's frame in, a transformed frame out. This query runs that
# exact shape through applyInPandas (Arrow-batched, one shuffle on
# the group key) and the oracle is the DECLARATIVE window form — so
# parity proves the imperative pandas path and the Catalyst window
# path compute the same thing bit-for-bit. Use the declarative form
# unless semantics genuinely can't be expressed (this one can; it
# exists to keep the escape hatch tested).
# ---------------------------------------------------------------------------

_GROUPED_MAP_ORACLE = """
SELECT event_id,
       user_id,
       COALESCE(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                0.0) AS value_diff
FROM events
"""


def _pandas_value_diff(pdf):
    pdf = pdf.sort_values(["ts", "event_id"])
    pdf["value_diff"] = pdf["value"].diff().fillna(0.0)
    return pdf[["event_id", "user_id", "value_diff"]]


@register(
    "grouped_map_value_diff",
    _GROUPED_MAP_ORACLE,
    doc="applyInPandas grouped-map (the reference's per-symbol loop as a "
    "real UDF, dags/sp500_dag.py.py:95-207) vs declarative-window oracle "
    "(SURVEY §2.12)",
)
def q_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    return ev.groupBy("user_id").applyInPandas(
        _pandas_value_diff,
        schema="event_id bigint, user_id bigint, value_diff double",
    )


# The token_heavy_hitters_sketch certificate pattern: sketch outputs themselves are estimator artifacts, so the
# registered output is the deterministic CERTIFICATE — exact counts
# plus integer flags checking each sketch against its own error
# contract IN-QUERY: HLL++ estimates within 5×rsd of the exact
# distinct counts (theoretical relative std dev 1%, generous margin);
# each approx_percentile result's true rank within 2×(n/accuracy)+1
# of its target rank (the sketch's rank-error guarantee). The oracle
# recomputes the exact side and expects all-ones; a broken sketch or
# merge flips a flag and fails the hash. Raw estimates remain bound-
# tested in tests/test_sketches.py.

_APPROX_PROFILE_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       CAST(1 AS INT) AS hll_orders_ok,
       CAST(1 AS INT) AS hll_parts_ok,
       CAST(1 AS INT) AS p50_rank_ok,
       CAST(1 AS INT) AS p95_rank_ok,
       CAST(1 AS INT) AS p99_rank_ok
FROM lineitem
"""


@register(
    "approx_monitoring_profile",
    _APPROX_PROFILE_ORACLE,
    doc="HLL++ approx distinct + percentile sketches, hash-certified "
    "in-query: exact counts plus partitioning-independent "
    "flags — HLL within 5x its configured rsd, each approx percentile's "
    "true rank within the sketch's n/accuracy guarantee — oracle "
    "expects all-ones (SURVEY §2.8 A2; raw estimates bound-tested in "
    "tests/test_sketches.py)",
)
def q_approx_monitoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    acc = 10000
    sketch = li.agg(
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("a_orders"),
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("a_parts"),
        F.approx_percentile("l_extendedprice", F.lit(0.5), acc).alias("p50"),
        F.approx_percentile("l_extendedprice", F.lit(0.95), acc).alias("p95"),
        F.approx_percentile("l_extendedprice", F.lit(0.99), acc).alias("p99"),
    )
    exact = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )
    joined = exact.crossJoin(F.broadcast(sketch))
    # Rank check: count rows strictly below each sketch percentile in
    # a second conditional pass over the fact (one fused aggregate).
    ranks = (
        li.crossJoin(F.broadcast(sketch))
        .agg(
            F.sum((F.col("l_extendedprice") < F.col("p50")).cast("bigint")).alias("below_p50"),
            F.sum((F.col("l_extendedprice") < F.col("p95")).cast("bigint")).alias("below_p95"),
            F.sum((F.col("l_extendedprice") < F.col("p99")).cast("bigint")).alias("below_p99"),
        )
    )

    def hll_ok(approx, exact_c):
        err = F.abs(approx.cast("double") / exact_c.cast("double") - 1.0)
        return (err <= 0.05).cast("int")

    def rank_ok(below, q):
        target = F.col("n_rows").cast("double") * q
        slack = F.col("n_rows").cast("double") * 2.0 / acc + 1.0
        return (F.abs(below.cast("double") - target) <= slack).cast("int")

    return joined.crossJoin(F.broadcast(ranks)).select(
        "n_rows",
        "exact_orders",
        "exact_parts",
        hll_ok(F.col("a_orders"), F.col("exact_orders")).alias("hll_orders_ok"),
        hll_ok(F.col("a_parts"), F.col("exact_parts")).alias("hll_parts_ok"),
        rank_ok(F.col("below_p50"), 0.5).alias("p50_rank_ok"),
        rank_ok(F.col("below_p95"), 0.95).alias("p95_rank_ok"),
        rank_ok(F.col("below_p99"), 0.99).alias("p99_rank_ok"),
    )


# ---------------------------------------------------------------------------
# Batch sessionization (gaps-and-islands): the batch twin of the
# streaming session_window_agg. Session id = running count of
# gap-exceeded markers (lag + cumulative sum over the same window
# spec — ONE shuffle on user_id serves both window passes and the
# final per-session agg never reshuffles thanks to partial agg).
# Gap test in exact integer microseconds on both engines (second-
# truncating date_diff would disagree at sub-second boundaries).
# ---------------------------------------------------------------------------

_SESSIONIZE_ORACLE = """
WITH marked AS (
    SELECT user_id, event_id, ts, value,
           CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT user_id, ts, value,
           sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
    FROM marked
)
SELECT user_id,
       CAST(sid AS BIGINT) AS session_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM sess
GROUP BY user_id, sid
"""


@register(
    "batch_sessionization",
    _SESSIONIZE_ORACLE,
    doc="gaps-and-islands sessionization (30-min gap) via lag + running "
    "sum; batch twin of the streaming session windows (SURVEY §2.5 ext)",
)
def q_batch_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(
        F.lag("ts", 1).over(w)
    )
    new_sess = F.when(gap_us > 1_800_000_000, 1).otherwise(0)
    sess = ev.withColumn(
        "sid",
        F.sum(new_sess).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return sess.groupBy("user_id", F.col("sid").alias("session_id")).agg(
        F.date_format(F.min("ts"), fmt).alias("session_start"),
        F.date_format(F.max("ts"), fmt).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(dec("value")).cast("double").alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# Gap-fill + forward-fill (the hypertable/timeseries resampling op):
# build the dense hour spine from the data's own bounds (sequence +
# explode — no driver loop), left-join the sparse per-user hourly
# sums, then carry the last observation forward per user
# (last_value IGNORE NULLS over a growing frame). Hours before a
# user's first observation stay NULL by design. The spine is
# users x hours (tiny vs the fact side) and the fill is one window
# pass — same shuffle key as the hourly aggregate.
# ---------------------------------------------------------------------------

_GAP_FILL_ORACLE = """
WITH bounds AS (
    SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
    FROM events
),
users AS (
    SELECT DISTINCT user_id FROM events WHERE user_id < 10
),
spine AS (
    SELECT u.user_id, g.h
    FROM users u
    CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
                FROM bounds) g
),
hourly AS (
    SELECT user_id, date_trunc('hour', ts) AS h,
           sum(CAST(value AS DECIMAL(18,4))) AS hour_sum
    FROM events WHERE user_id < 10
    GROUP BY 1, 2
)
SELECT s.user_id,
       strftime(s.h, '%Y-%m-%d %H:%M:%S') AS hour,
       CAST(last_value(h.hour_sum IGNORE NULLS) OVER
         (PARTITION BY s.user_id ORDER BY s.h
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS filled_sum,
       (h.hour_sum IS NULL) AS was_gap
FROM spine s LEFT JOIN hourly h ON h.user_id = s.user_id AND h.h = s.h
"""


@register(
    "gap_fill_forward",
    _GAP_FILL_ORACLE,
    doc="dense hour spine (sequence+explode) + left join + forward-fill "
    "(last_value IGNORE NULLS): timeseries resampling / hypertable "
    "gap-fill (SURVEY §2.5 ext)",
)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    small = ev.where(F.col("user_id") < 10)
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = (
        small.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    hourly = small.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.sum(dec("value")).alias("hour_sum"))
    joined = spine.join(hourly, ["user_id", "h"], "left")
    w = (
        W.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return joined.select(
        "user_id",
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        F.last("hour_sum", ignorenulls=True).over(w).cast("double").alias("filled_sum"),
        F.col("hour_sum").isNull().alias("was_gap"),
    )


# ---------------------------------------------------------------------------
# SCD2-style history intervals: each event becomes a
# validity interval [ts, next ts) per user — the slowly-changing-
# dimension type-2 layout every warehouse derives from a change
# stream. One window pass; the shuffle key (user_id) is the same as
# the downstream as-of join family, so the exchange is reusable.
# Microsecond-exact interval bounds on both engines.
# ---------------------------------------------------------------------------

_SCD2_ORACLE = """
SELECT user_id, event_id, value,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
       strftime(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
       CAST(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                IS NULL AS BOOLEAN) AS is_current
FROM events
"""


@register(
    "scd2_event_history",
    _SCD2_ORACLE,
    doc="SCD2 validity intervals from a change stream: [ts, lead(ts)) per "
    "user, NULL-open current row (SURVEY §2.5 ext)",
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    nxt = F.lead("ts", 1).over(w)
    return ev.select(
        "user_id",
        "event_id",
        "value",
        F.date_format("ts", fmt).alias("valid_from"),
        F.date_format(nxt, fmt).alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Outlier fences + winsorization: Tukey fences
# [q1 - 1.5·IQR, q3 + 1.5·IQR] per group, then outlier counts and a
# winsorized (clamped) sum — the numeric-feature cleaning step of a
# training pipeline. Determinism: quantiles at .25/.75 over the
# INTEGRAL l_quantity interpolate on binary fractions, so q1/q3 land
# on the exact .25 grid, the 1.5·IQR arithmetic stays on the .125
# grid, and every clamped value sums exactly in double. Plan: one
# skinny fence aggregate broadcast back onto the fact scan — two
# passes over the group, no row ever carries more than its own value.
# ---------------------------------------------------------------------------

_OUTLIER_FENCE_ORACLE = """
WITH fences AS (
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS q1,
           quantile_cont(l_quantity, 0.75) AS q3
    FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_returnflag,
       f.q1, f.q3,
       f.q1 - 1.5 * (f.q3 - f.q1) AS lo_fence,
       f.q3 + 1.5 * (f.q3 - f.q1) AS hi_fence,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN l.l_quantity < f.q1 - 1.5 * (f.q3 - f.q1)
                       OR l.l_quantity > f.q3 + 1.5 * (f.q3 - f.q1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       sum(greatest(f.q1 - 1.5 * (f.q3 - f.q1),
                    least(f.q3 + 1.5 * (f.q3 - f.q1), l.l_quantity)))
           AS winsorized_qty_sum
FROM lineitem l JOIN fences f ON l.l_returnflag = f.l_returnflag
GROUP BY l.l_returnflag, f.q1, f.q3
"""


@register(
    "feature_outlier_fences",
    _OUTLIER_FENCE_ORACLE,
    doc="Tukey-fence outlier counts + winsorized sum per group (numeric "
    "feature cleaning; binary-fraction quantiles keep bit parity) "
    "(SURVEY §2.8 ext)",
)
def q_outlier_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    fences = li.groupBy("l_returnflag").agg(
        F.percentile(q, 0.25).alias("q1"),
        F.percentile(q, 0.75).alias("q3"),
    )
    lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    joined = li.join(F.broadcast(fences), "l_returnflag")
    return joined.groupBy("l_returnflag", "q1", "q3").agg(
        F.first(lo).alias("lo_fence"),
        F.first(hi).alias("hi_fence"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when((q < lo) | (q > hi), F.lit(1)).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_outliers"),
        F.sum(F.greatest(lo, F.least(hi, q))).alias("winsorized_qty_sum"),
    )


# ---------------------------------------------------------------------------
# Funnel analysis: view → click → purchase conversion
# per user, ordered first-occurrence semantics (a stage counts only if
# its first event follows the previous stage's first event). One
# skinny per-user aggregate (min ts per stage) then a global rollup —
# two shuffles total, both on user_id/constants; the fact table is
# scanned once.
# ---------------------------------------------------------------------------

_FUNNEL_ORACLE = """
WITH firsts AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
           min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
           min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
    FROM events
    GROUP BY user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS stage_view,
       CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                     THEN 1 ELSE 0 END) AS BIGINT) AS stage_click,
       CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                      AND t_purchase > t_click
                     THEN 1 ELSE 0 END) AS BIGINT) AS stage_purchase
FROM firsts
"""


@register(
    "event_funnel_conversion",
    _FUNNEL_ORACLE,
    doc="view->click->purchase funnel with ordered first-occurrence "
    "semantics; one scan, skinny per-user stage aggregate "
    "(SURVEY §2.8 ext)",
)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def first_ts(kind: str):
        return F.min(F.when(F.col("event_type") == kind, F.col("ts")))

    firsts = ev.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))

    def n(cond):
        return F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0))).cast("bigint")

    return firsts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        n(viewed).alias("stage_view"),
        n(clicked).alias("stage_click"),
        n(purchased).alias("stage_purchase"),
    )


# ---------------------------------------------------------------------------
# Cohort retention: users grouped by signup week, then
# distinct-active counts at each week offset — the canonical retention
# matrix. Week truncation starts Monday in both engines; offsets are
# exact integer epoch arithmetic (no date formatting in the output, so
# no strftime-dialect hazard).
# ---------------------------------------------------------------------------

_COHORT_ORACLE = """
WITH cohorts AS (
    SELECT user_id,
           date_trunc('week',
               min(CASE WHEN event_type = 'signup' THEN ts END)) AS cohort_week
    FROM events GROUP BY user_id
),
activity AS (
    SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
)
SELECT CAST(c.cohort_week AS DATE) AS cohort_week,
       CAST((epoch(a.week) - epoch(c.cohort_week)) / 604800 AS BIGINT)
           AS week_offset,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
FROM cohorts c
JOIN activity a ON a.user_id = c.user_id
WHERE c.cohort_week IS NOT NULL AND a.week >= c.cohort_week
GROUP BY c.cohort_week, week_offset
"""


@register(
    "cohort_retention_weekly",
    _COHORT_ORACLE,
    doc="signup-week cohort retention matrix (distinct active users per "
    "week offset); exact integer epoch arithmetic, no date-format "
    "dialect in the output (SURVEY §2.8 ext)",
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cohorts = ev.groupBy("user_id").agg(
        F.date_trunc(
            "week", F.min(F.when(F.col("event_type") == "signup", F.col("ts")))
        ).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("week")
    ).distinct()
    joined = (
        cohorts.where(F.col("cohort_week").isNotNull())
        .join(activity, "user_id")
        .where(F.col("week") >= F.col("cohort_week"))
    )
    offset = (
        (F.unix_timestamp("week") - F.unix_timestamp("cohort_week")) / 604800
    ).cast("bigint")
    return joined.groupBy(
        F.col("cohort_week").cast("date").alias("cohort_week"),
        offset.alias("week_offset"),
    ).agg(F.count_distinct("user_id").cast("bigint").alias("n_active"))


# ---------------------------------------------------------------------------
# Grouped aggregation (TPC-H Q1 shape) — partial/map-side combine then
# final agg; one shuffle on the (low-cardinality) group key.
# ---------------------------------------------------------------------------

DISC_PRICE = "l_extendedprice * (1.0 - l_discount)"

_GROUPED_ORACLE = f"""
SELECT l_returnflag,
       l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST({sql_round(DISC_PRICE, 2)} AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
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
# Decimal-typed money twin (SURVEY §7.4 decision):
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
# ABC / Pareto classification: parts ranked by exact
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
    "(80/95 cut; deterministic tie-break) (SURVEY §2.5 ext)",
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
    # grand total (operators/window_metrics).
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
# Bitwise aggregate suite: bit_and / bit_or / bit_xor
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
    "integer surface (SURVEY §2.10 ext)",
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
# Hierarchical rollup (continuous-aggregate pattern): daily metrics
# computed FROM the hourly aggregate, not from raw events. Decimal
# sums are associative, so sum-of-partial-sums is exactly the direct
# daily aggregate — which is what the oracle computes, proving the
# rollup lattice is lossless. At 100 TB this is how dashboards stay
# interactive: materialize the fine grain once, serve every coarser
# grain from it (events → hour is the only full-data pass).
# ---------------------------------------------------------------------------

_HIER_ROLLUP_ORACLE = """
SELECT CAST(strftime(ts, '%Y-%m-%d') AS DATE) AS day,
       event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


@register(
    "hierarchical_rollup_daily",
    _HIER_ROLLUP_ORACLE,
    doc="daily aggregate computed from hourly partials (continuous-"
    "aggregate / hypertable rollup); decimal sums make the lattice "
    "lossless — oracle aggregates raw events directly (SURVEY §2.8 ext)",
)
def q_hierarchical_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("value")).alias("sum_value"),
    )
    return hourly.groupBy(
        F.to_date("hour").alias("day"), "event_type"
    ).agg(
        F.sum("n").alias("n"),
        F.sum("sum_value").cast("decimal(18,4)").cast("double").alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# Percent-of-total (ratio_to_report): a windowed sum over the whole
# partition feeding a single double division — the share-of-segment
# report. The decimal windowed sum keeps the denominator
# deterministic; the division is one IEEE op with identical operands
# in both engines.
# ---------------------------------------------------------------------------

_PCT_TOTAL_ORACLE = """
WITH seg AS (
    SELECT c_mktsegment,
           sum(CAST(c_acctbal AS DECIMAL(18,4))) AS seg_bal,
           count(*) AS n_cust
    FROM customer
    GROUP BY c_mktsegment
)
SELECT c_mktsegment, CAST(seg_bal AS DOUBLE) AS seg_bal, n_cust,
       CAST(seg_bal AS DOUBLE)
         / CAST(sum(seg_bal) OVER () AS DOUBLE) AS share_of_total
FROM seg
"""


@register(
    "percent_of_total",
    _PCT_TOTAL_ORACLE,
    doc="ratio-to-report via whole-partition window over a pre-aggregate "
    "(SURVEY §2.5 ext)",
)
def q_percent_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    seg = cust.groupBy("c_mktsegment").agg(
        F.sum(dec("c_acctbal")).alias("seg_bal"),
        F.count(F.lit(1)).alias("n_cust"),
    )
    total = F.sum("seg_bal").over(
        W.partitionBy().rowsBetween(
            W.unboundedPreceding, W.unboundedFollowing
        )
    )
    return seg.select(
        "c_mktsegment",
        F.col("seg_bal").cast("double").alias("seg_bal"),
        "n_cust",
        (F.col("seg_bal").cast("double") / total.cast("double")).alias(
            "share_of_total"
        ),
    )


# ---------------------------------------------------------------------------
# Weighted average: sum(w*x)/sum(w), both sums in decimal. The
# numerator's scaled value exceeds 2^53, so each engine's
# decimal->double conversion can round the last ulp differently —
# the quotient is therefore quantized through the shared half-up
# kernel (6 decimals) on both sides, the same policy as every other
# rounded column (SURVEY §7.5.1/.3).
# ---------------------------------------------------------------------------

_WA_EXPR = (
    "CAST(sum(CAST(l_quantity AS DECIMAL(18,4))"
    " * CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)"
    " / CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)"
)

_WEIGHTED_AVG_ORACLE = f"""
SELECT l_returnflag,
       {sql_round(_WA_EXPR, 6)} AS qty_weighted_price
FROM lineitem
GROUP BY l_returnflag
"""


@register(
    "weighted_avg_pricing",
    _WEIGHTED_AVG_ORACLE,
    doc="weighted average with exact decimal numerator/denominator "
    "(SURVEY §2.8 ext)",
)
def q_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    num = F.sum(dec("l_quantity") * dec("l_extendedprice"))
    den = F.sum(dec("l_quantity"))
    return li.groupBy("l_returnflag").agg(
        round_half_up(num.cast("double") / den.cast("double"), 6).alias(
            "qty_weighted_price"
        )
    )


# ---------------------------------------------------------------------------
# Money-typed twin of weighted_avg_pricing:
# the SURVEY §7.4 decimal-at-scale policy applied to the ratio family.
# Per-column decision: qty (2 real dp) and price (2 real dp) carry
# DECIMAL(18,4); their product is exact at 4 dp and is held at
# DECIMAL(24,8) so the SUM — decimal, associative, fold-order-free —
# is exact on any partitioning. The RATIO itself is deliberately NOT
# emitted as decimal: decimal division scale/rounding is the one spot
# where engines legitimately disagree (Spark picks quotient scale by
# its own promotion rule, DuckDB by another), so the auditable exact
# artifacts are numerator + denominator, and ratio consumers divide in
# double (weighted_avg_pricing above) or in their ledger system.
# ---------------------------------------------------------------------------

_WEIGHTED_AVG_DECIMAL_ORACLE = """
SELECT l_returnflag,
       CAST(CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,4))
                          * CAST(l_extendedprice AS DECIMAL(18,4))
                          AS DECIMAL(24,8))) AS DECIMAL(38,8)) AS STRING)
           AS sum_qty_price_dec,
       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS STRING)
           AS sum_qty_dec,
       count(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
"""


@register(
    "weighted_avg_pricing_decimal",
    _WEIGHTED_AVG_DECIMAL_ORACLE,
    doc="money-typed weighted-average twin: exact decimal numerator + "
    "denominator, canonical decimal-string comparison; ratio left to "
    "double-space consumers (SURVEY §7.4)",
)
def q_weighted_avg_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    qty_price = (dec("l_quantity") * dec("l_extendedprice")).cast("decimal(24,8)")
    return li.groupBy("l_returnflag").agg(
        F.sum(qty_price).cast("decimal(38,8)").cast("string").alias("sum_qty_price_dec"),
        F.sum(dec("l_quantity")).cast("decimal(28,4)").cast("string").alias("sum_qty_dec"),
        F.count(F.lit(1)).alias("n_rows"),
    )


TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


# ---------------------------------------------------------------------------
# Latest-snapshot dedup — THE most common warehouse maintenance op:
# keep only the newest row per natural key from an append-only feed.
# One window over the key partitioning; at 100 TB this is the
# standard pattern for compacting CDC/event feeds into current-state
# tables (same shuffle shape as the SCD2 query, but keep-one).
# ---------------------------------------------------------------------------

_LATEST_SNAPSHOT_ORACLE = f"""
SELECT user_id, event_type,
       strftime(ts, '{TS_FMT_DUCK}') AS latest_ts,
       event_id, value
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY user_id, event_type
        ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
) WHERE rn = 1
"""


@register(
    "window_deduped_latest_snapshot",
    _LATEST_SNAPSHOT_ORACLE,
    doc="latest-row-per-key snapshot compaction (CDC/event feed -> "
    "current state): one row_number window, deterministic "
    "(ts, event_id) tiebreak (SURVEY §2.9 warehouse ext)",
)
def q_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.date_format("ts", TS_FMT_SPARK).alias("latest_ts"),
            "event_id",
            "value",
        )
    )


# ---------------------------------------------------------------------------
# Feature histogram — fixed-width binning for numeric profiling (the
# map-side half of every feature-distribution report). Bin id is an
# integer floor-div, so the whole plan is one groupBy on a derived
# int; sums restricted to integer-valued columns so the aggregate is
# order-independent (doubles would hash-diverge between engines).
# ---------------------------------------------------------------------------

_HIST_WIDTH = 5000

_HIST_ORACLE = f"""
SELECT CAST(floor(l_extendedprice / {_HIST_WIDTH}) AS BIGINT) AS bin_id,
       count(*) AS n_rows,
       min(l_extendedprice) AS min_price,
       max(l_extendedprice) AS max_price,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
FROM lineitem
GROUP BY 1
"""


@register(
    "feature_histogram_bins",
    _HIST_ORACLE,
    doc="fixed-width numeric histogram (feature profiling): bin id by "
    "integer floor-div, one groupBy, integer-exact aggregates "
    "(SURVEY §2.10 profiling ext)",
)
def q_feature_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.floor(F.col("l_extendedprice") / _HIST_WIDTH)
            .cast("bigint")
            .alias("bin_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
            F.sum(F.col("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("total_qty"),
        )
    )


# ---------------------------------------------------------------------------
# Interval-overlap aggregation: join two interval sets (view sessions
# [ts, ts+10min) x same-day maintenance windows [02:00, 04:00)) on an
# EQUI key (the calendar date) and aggregate the exact overlap
# duration. The standard trick for interval joins whose windows nest
# inside a partition key: the equi-join bounds fan-out, the overlap
# arithmetic is exact integer microseconds, and no range cross-join
# ever materializes. Sessions crossing midnight count only against
# their start-date window (documented semantics, same in the oracle).
# ---------------------------------------------------------------------------

_INTERVAL_ORACLE = """
WITH sessions AS (
    SELECT user_id, CAST(ts AS DATE) AS d,
           epoch_us(ts) AS s_us,
           epoch_us(ts + INTERVAL 10 MINUTE) AS e_us
    FROM events WHERE event_type = 'view'
),
win AS (
    SELECT DISTINCT CAST(ts AS DATE) AS d,
           epoch_us(CAST(CAST(ts AS DATE) AS TIMESTAMP) + INTERVAL 2 HOUR) AS w_s,
           epoch_us(CAST(CAST(ts AS DATE) AS TIMESTAMP) + INTERVAL 4 HOUR) AS w_e
    FROM events WHERE event_type = 'purchase'
),
ov AS (
    SELECT s.user_id,
           greatest(0, least(s.e_us, w.w_e) - greatest(s.s_us, w.w_s))
               AS ov_us
    FROM sessions s JOIN win w USING (d)
)
SELECT user_id,
       count(*) FILTER (WHERE ov_us > 0) AS n_overlapping,
       CAST(sum(ov_us) // 1000000 AS BIGINT) AS total_overlap_seconds
FROM ov GROUP BY user_id
"""


@register(
    "interval_overlap_agg",
    _INTERVAL_ORACLE,
    doc="interval-overlap aggregation (sessions x maintenance "
    "windows): equi-join on the date partition key + exact "
    "integer-microsecond overlap arithmetic — no range cross-join "
    "(SURVEY §2.9 interval ext)",
)
def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sessions = ev.where(F.col("event_type") == "view").select(
        "user_id",
        F.to_date("ts").alias("d"),
        F.unix_micros("ts").alias("s_us"),
        F.unix_micros(F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias(
            "e_us"
        ),
    )
    day = F.date_trunc("DAY", "ts")
    win = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.to_date("ts").alias("d"),
            F.unix_micros(day + F.expr("INTERVAL 2 HOURS")).alias("w_s"),
            F.unix_micros(day + F.expr("INTERVAL 4 HOURS")).alias("w_e"),
        )
        .distinct()
    )
    ov = F.greatest(
        F.lit(0).cast("bigint"),
        F.least("e_us", "w_e") - F.greatest("s_us", "w_s"),
    )
    return (
        sessions.join(win, "d")
        .select("user_id", ov.alias("ov_us"))
        .groupBy("user_id")
        .agg(
            F.count_if(F.col("ov_us") > 0).alias("n_overlapping"),
            F.expr("sum(ov_us) div 1000000").cast("bigint").alias(
                "total_overlap_seconds"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Linear-interpolation gap fill — completes the
# imputation family: gap_fill_forward carries the LAST observation
# (LOCF); time-series feature pipelines usually want the LINE between
# the neighbors instead. Same dense-spine shape (sequence + explode,
# no driver loop), then per-key windows pull the previous and next
# observations AND their hours; the interpolated value is
# prev + (next - prev) · Δt-fraction with the fraction computed from
# exact integer epoch-hours, so both engines evaluate the identical
# double expression. Trailing gaps fall back to LOCF, leading gaps
# stay NULL — each row labels which rule produced it.
# ---------------------------------------------------------------------------

_INTERP_ORACLE = """
WITH bounds AS (
    SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
    FROM events
),
users AS (SELECT DISTINCT user_id FROM events WHERE user_id < 10),
spine AS (
    SELECT u.user_id, g.h
    FROM users u
    CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
                FROM bounds) g
),
hourly AS (
    SELECT user_id, date_trunc('hour', ts) AS h,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v
    FROM events WHERE user_id < 10
    GROUP BY 1, 2
),
joined AS (
    SELECT s.user_id, s.h, hr.v,
           epoch_us(s.h) // 3600000000 AS hn
    FROM spine s LEFT JOIN hourly hr ON hr.user_id = s.user_id AND hr.h = s.h
),
nbr AS (
    SELECT user_id, h, v, hn,
           last_value(v IGNORE NULLS) OVER wprev AS pv,
           last_value(CASE WHEN v IS NOT NULL THEN hn END IGNORE NULLS)
               OVER wprev AS ph,
           first_value(v IGNORE NULLS) OVER wnext AS nv,
           first_value(CASE WHEN v IS NOT NULL THEN hn END IGNORE NULLS)
               OVER wnext AS nh
    FROM joined
    WINDOW wprev AS (PARTITION BY user_id ORDER BY hn
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wnext AS (PARTITION BY user_id ORDER BY hn
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id,
       strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
       CASE WHEN v IS NOT NULL THEN v
            WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                pv + (nv - pv) * (CAST(hn - ph AS DOUBLE)
                                  / CAST(nh - ph AS DOUBLE))
            WHEN pv IS NOT NULL THEN pv
            END AS filled,
       CASE WHEN v IS NOT NULL THEN 'obs'
            WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'interp'
            WHEN pv IS NOT NULL THEN 'locf_tail'
            ELSE 'leading_null' END AS fill_kind
FROM nbr
"""


@register(
    "gap_fill_interpolate",
    _INTERP_ORACLE,
    doc="linear-interpolation gap fill over the dense hour spine "
    "(prev + (next-prev)*dt-fraction from exact integer epoch-hours; "
    "trailing gaps LOCF, leading gaps NULL, rule labeled per row) — "
    "completes the imputation family (SURVEY §2.5 ext). "
    "TEST-SCALE DEVICE: restricted to user_id < 10 so the dense "
    "user x hour spine stays bounded at correctness scale; at "
    "production scale the spine is generated per-entity from that "
    "entity's own [min, max] range instead of one global range",
)
def q_gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # user_id < 10: documented test-scale device (see doc= above).
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 10)
    allev = load_table(spark, sf_dir, "events")
    bounds = allev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("h")
    )
    users = ev.select("user_id").distinct()
    spine = users.crossJoin(F.broadcast(hours))
    hourly = (
        ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("h"))
        .agg(
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("v")
        )
    )
    joined = spine.join(hourly, ["user_id", "h"], "left").withColumn(
        "hn", F.expr("unix_micros(h) div 3600000000")
    )
    wprev = (
        Window.partitionBy("user_id")
        .orderBy("hn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wnext = (
        Window.partitionBy("user_id")
        .orderBy("hn")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    known_hn = F.when(F.col("v").isNotNull(), F.col("hn"))
    nbr = (
        joined.withColumn("pv", F.last("v", ignorenulls=True).over(wprev))
        .withColumn("ph", F.last(known_hn, ignorenulls=True).over(wprev))
        .withColumn("nv", F.first("v", ignorenulls=True).over(wnext))
        .withColumn("nh", F.first(known_hn, ignorenulls=True).over(wnext))
    )
    frac = (F.col("hn") - F.col("ph")).cast("double") / (
        F.col("nh") - F.col("ph")
    ).cast("double")
    filled = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.col("pv") + (F.col("nv") - F.col("pv")) * frac,
        )
        .when(F.col("pv").isNotNull(), F.col("pv"))
    )
    kind = (
        F.when(F.col("v").isNotNull(), F.lit("obs"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.lit("interp"),
        )
        .when(F.col("pv").isNotNull(), F.lit("locf_tail"))
        .otherwise(F.lit("leading_null"))
    )
    return nbr.select(
        "user_id",
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        filled.alias("filled"),
        kind.alias("fill_kind"),
    )


# ---------------------------------------------------------------------------
# Equi-DEPTH histogram: the profiling twin of
# feature_histogram_bins (equi-width) — k buckets holding equal ROW
# counts, the layout quantile sketches approximate and range
# partitioners need exactly. Built on the distributed global-rank
# operator (§12.2): rank via range sort + broadcast offsets, bucket
# via the exact ntile formula, then one groupBy for per-bucket
# min/max/count — no single-task window anywhere. Oracle uses plain
# SQL ntile over the same total order.
# ---------------------------------------------------------------------------

_EDH_BUCKETS = 16

_EQUIDEPTH_ORACLE = f"""
WITH keyed AS (
    SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
),
bucketed AS (
    SELECT l_extendedprice,
           ntile({_EDH_BUCKETS}) OVER (
               ORDER BY l_extendedprice, l_orderkey, l_linenumber)
               AS bucket
    FROM keyed
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       count(*) AS n_rows,
       min(l_extendedprice) AS min_price,
       max(l_extendedprice) AS max_price
FROM bucketed GROUP BY bucket
"""


@register(
    "feature_equidepth_histogram",
    _EQUIDEPTH_ORACLE,
    doc="equi-depth histogram (16 equal-count buckets) via the "
    "distributed global-rank + exact ntile formula — the quantile "
    "layout with no single-task window (SURVEY §2.10 profiling ext)",
)
def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.window_metrics import ntile_from_rank, with_global_rank

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    ranked = with_global_rank(
        li, ["l_extendedprice", "l_orderkey", "l_linenumber"]
    )
    total = ranked.agg(F.count(F.lit(1)).cast("long").alias("__total__"))
    return (
        ranked.join(F.broadcast(total))
        .withColumn(
            "bucket",
            ntile_from_rank(
                F.col("global_rank"), F.col("__total__"), _EDH_BUCKETS
            ).cast("bigint"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance — the ROLLUP twin of the
# signature-store refresh (and the materialized-view maintenance
# pattern every warehouse eventually needs): a stored daily rollup is
# advanced by ONE new day's partial aggregates without rescanning
# history. The stored rollup carries mergeable partials (count + sum
# as exact decimal), so the update is: aggregate ONLY the delta
# partition map-side → unionByName with the stored rollup → one
# re-aggregate over (day, event_type) — the same partial/final split
# Catalyst uses inside a single agg, made durable across runs. Oracle:
# the full recompute over all events, so any drift between
# "incremental" and "recompute" fails the hash. Test-scale device:
# the split is the LAST day of events as the delta (documented);
# in production the stored side is a partitioned table and the
# overwrite-by-partition writer (io/writers.py) makes the update
# idempotent.
# ---------------------------------------------------------------------------

_INC_AGG_ORACLE = """
SELECT CAST(ts AS DATE) AS day,
       event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events
GROUP BY CAST(ts AS DATE), event_type
"""


@register(
    "incremental_agg_maintenance",
    _INC_AGG_ORACLE,
    doc="materialized-rollup maintenance: the stored daily rollup "
    "(history, mergeable count/decimal-sum partials) is advanced by "
    "aggregating ONLY the newest day's delta and re-merging — no "
    "history rescan in the update path; oracle = full recompute over "
    "all events, so incremental==recompute is hash-enforced "
    "(warehouse ext)",
)
def q_incremental_agg_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date").alias("day")

    # The stored rollup: everything before the last day (in production
    # this is the persisted table from the previous run, not a scan —
    # materialized here in-plan as the test-scale device).
    last_day = ev.agg(F.max(F.col("ts").cast("date")).alias("d"))
    hist = ev.join(F.broadcast(last_day)).where(
        F.col("ts").cast("date") < F.col("d")
    )
    stored = hist.groupBy(day, "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_dec"),
    )

    # The update path: aggregate ONLY the delta partition, then merge
    # partials with the stored rollup (sum of counts, sum of decimal
    # sums — both mergeable, no history rescan).
    delta = ev.join(F.broadcast(last_day)).where(
        F.col("ts").cast("date") == F.col("d")
    )
    delta_agg = delta.groupBy(day, "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_dec"),
    )
    merged = (
        stored.unionByName(delta_agg)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_dec").cast("double").alias("sum_value"),
        )
    )
    return merged


# ---------------------------------------------------------------------------
# Quantile-SKETCH certificate: the approx-percentile twin of
# token_heavy_hitters_sketch's Misra-Gries certificate. Spark's
# percentile_approx (Greenwald-Khanna summaries, mergeable — the one-
# pass 100 TB quantile path) returns values whose exact rank may vary
# with partitioning, so the raw estimates can never be hash-checked.
# The registered output is the sketch's CERTIFICATE instead: for each
# target quantile, the EXACT order statistic (computed with the
# distributed global-rank pattern — range-sort + per-partition offset,
# no single-task window) plus integer flags the sketch must satisfy
# under ANY partitioning — the returned value is an element of the
# multiset, and its exact-rank interval intersects the GK guarantee
# band (target +- n/accuracy). The oracle recomputes the exact
# statistics and expects literal 1s: a broken sketch flips a flag and
# fails the hash. The 5x map-side fan-out for the rank counts shrinks
# immediately in partial aggregation (5 groups).
# ---------------------------------------------------------------------------

_QSK_PERMILLE = (100, 250, 500, 750, 900)
_QSK_ACCURACY = 1000

_QUANTILE_CERT_ORACLE = f"""
WITH cents AS (
    SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS c,
           o_orderkey AS k
    FROM orders
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM cents),
ranked AS (
    SELECT c, row_number() OVER (ORDER BY c, k) AS r FROM cents
),
qs AS (
    SELECT CAST(unnest([{", ".join(str(q) for q in _QSK_PERMILLE)}])
                AS BIGINT) AS q_permille
)
SELECT q.q_permille,
       CAST(q.q_permille * (n.n - 1) // 1000 + 1 AS BIGINT) AS target_rank,
       (SELECT c FROM ranked
        WHERE r = q.q_permille * (n.n - 1) // 1000 + 1) AS exact_cents,
       CAST(1 AS INT) AS sk_value_is_element,
       CAST(1 AS INT) AS sk_within_bound
FROM qs q, n
"""


@register(
    "quantile_sketch_certificate",
    _QUANTILE_CERT_ORACLE,
    doc="percentile_approx (mergeable GK summaries, the one-pass 100 TB "
    "quantile path) hash-certified in-query: output = exact order "
    "statistics at 5 target quantiles (distributed global-rank, no "
    "single-task window) + partitioning-independent invariant flags "
    "(returned value is a data element; its exact-rank interval meets "
    "the n/accuracy guarantee band); oracle expects all-ones "
    "(mirrors token_heavy_hitters_sketch)",
)
def q_quantile_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.window_metrics import with_global_rank

    cents = load_table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
        F.col("o_orderkey").alias("k"),
    )
    n_row = cents.agg(F.count(F.lit(1)).cast("bigint").alias("n"))

    # The sketch under certification: one pass, mergeable summaries.
    probs = [q / 1000.0 for q in _QSK_PERMILLE]
    approx_row = cents.agg(
        F.percentile_approx(
            "c", F.array(*[F.lit(p) for p in probs]), F.lit(_QSK_ACCURACY)
        ).alias("vs")
    )
    qv = (
        approx_row.crossJoin(F.broadcast(n_row))
        .select(
            "n",
            F.posexplode(
                F.arrays_zip(
                    F.array(
                        *[F.lit(q).cast("bigint") for q in _QSK_PERMILLE]
                    ).alias("q_permille"),
                    F.col("vs").alias("v"),
                )
            ),
        )
        .select(
            F.col("col.q_permille").alias("q_permille"),
            F.col("col.v").alias("v"),
            F.expr("col.q_permille * (n - 1) div 1000 + 1")
            .cast("bigint")
            .alias("t"),
            F.expr(f"n div {_QSK_ACCURACY} + 1").cast("bigint").alias("bound"),
        )
    )
    # Exact-rank counts of each sketch value: 5x map-side fan-out,
    # collapsed by partial agg before the 5-group shuffle.
    counts = (
        cents.crossJoin(F.broadcast(qv.select("q_permille", "v")))
        .groupBy("q_permille")
        .agg(
            F.sum((F.col("c") < F.col("v")).cast("bigint")).alias("r_lt"),
            F.sum((F.col("c") <= F.col("v")).cast("bigint")).alias("r_le"),
            F.max((F.col("c") == F.col("v")).cast("int")).alias("is_elem"),
        )
    )
    # Exact order statistics at the target ranks — distributed rank,
    # then a 5-row broadcast semi-lookup.
    ranked = with_global_rank(cents, ["c", "k"], rank_col="r")
    exacts = ranked.join(
        F.broadcast(qv.select("q_permille", "t")), F.col("r") == F.col("t")
    ).select("q_permille", F.col("c").alias("exact_cents"))
    return (
        qv.join(counts, "q_permille")
        .join(exacts, "q_permille")
        .select(
            "q_permille",
            F.col("t").alias("target_rank"),
            "exact_cents",
            F.col("is_elem").cast("int").alias("sk_value_is_element"),
            (
                (F.col("r_le") >= F.col("t") - F.col("bound"))
                & (F.col("r_lt") + 1 <= F.col("t") + F.col("bound"))
            )
            .cast("int")
            .alias("sk_within_bound"),
        )
    )
