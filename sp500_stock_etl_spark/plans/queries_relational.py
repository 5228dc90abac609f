"""Relational and SQL-surface queries (SURVEY.md §7.3): join strategies
(broadcast star, fact-fact, semi/anti, null-safe, outer, as-of, salted
skew join, interval range join), set operators, MERGE upsert, pivot /
unpivot, JSON / VARIANT / map / array / string / regex function
suites, correlated subqueries, LATERAL, LISTAGG, SQL UDFs, Python and
Arrow UDF/UDTF cells (SURVEY §2.12), and the Z-order layout plans.

Reproducibility policy for float aggregates (SURVEY.md §7.5.3): sums
over doubles are order-dependent across partitions, so every matched
sum is computed on DECIMAL(18,n) (exact, associative); averages are
``CAST(decimal_sum AS DOUBLE) / count`` — a single double division
with identical operands in both engines. Every computed column is
aliased identically in the DataFrame plan and the DuckDB oracle
(driver hashes values after sorting columns by name).
"""

from __future__ import annotations

import re

import pyarrow as pa  # module-level: arrow_udf annotations resolve here
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.functions import udtf
from pyspark.sql.window import Window

from ..caching import track_persist
from ..functions.rounding import round_half_up, sql_round
from ..io.readers import load_table, register_views
from ..operators.joins import asof_join
from .queries_analytics import DISC_PRICE, TS_FMT_DUCK, TS_FMT_SPARK
from .registry import register


# ---------------------------------------------------------------------------
# Broadcast star probe: fact ⨝ two small dims. The dims are broadcast
# explicitly — at 100 TB the fact never shuffles for a dim join.
# ---------------------------------------------------------------------------

_STAR_ORACLE = f"""
SELECT p.p_brand,
       s.s_nationkey,
       count(*) AS n,
       CAST(sum(CAST({sql_round(DISC_PRICE, 2)} AS DECIMAL(18,2))) AS DOUBLE) AS revenue
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
       CAST(sum(CAST({sql_round(DISC_PRICE, 2)} AS DECIMAL(18,2))) AS DOUBLE) AS revenue
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
       CAST(sum(CAST({sql_round(DISC_PRICE, 2)} AS DECIMAL(18,2))) AS DOUBLE) AS revenue
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
    register_views(spark, sf_dir)
    return spark.sql(_CORRELATED_SQL)


# ---------------------------------------------------------------------------
# Regex function suite: extract / replace / count /
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
    "boolean rlike on RE2-portable patterns (SURVEY §2.10 ext)",
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
# Z-order layout key: interleave the low 16 bits of two
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
    "property a single-column sort cannot give (SURVEY §7.4 ext)",
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
# As-of join with TOLERANCE: pandas merge_asof's
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
    "(SURVEY §2.9 custom-op ext)",
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
# FORWARD as-of join: for each signup, the EARLIEST
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
    "operator, following frame (SURVEY §2.9 custom-op ext)",
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


# ---------------------------------------------------------------------------
# Unpivot (melt): wide → long. The inverse of pivot_event_counts.
# Map-side only — Expand produces k rows per input row with no
# shuffle; at 100 TB the k× fan-out happens inside the stage and
# any downstream agg sees it pre-combined.
# ---------------------------------------------------------------------------

_UNPIVOT_ORACLE = """
SELECT o_orderkey, metric, val
FROM (
    SELECT o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS totalprice,
           CAST(o_custkey AS DOUBLE) AS custkey
    FROM orders
    WHERE o_orderkey % 53 = 0
) UNPIVOT (val FOR metric IN (totalprice, custkey))
"""


@register(
    "unpivot_order_metrics",
    _UNPIVOT_ORACLE,
    doc="unpivot/melt wide→long, the inverse of pivot (SURVEY §2.8 ext); "
    "Expand node, zero shuffles",
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") % 53 == 0
    )
    wide = orders.select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("totalprice"),
        F.col("o_custkey").cast("double").alias("custkey"),
    )
    return wide.unpivot(
        "o_orderkey", ["totalprice", "custkey"], "metric", "val"
    )


# ---------------------------------------------------------------------------
# Python UDTF: one input row → N output rows through a lateral join
# (SURVEY §2.12 ext — the table-function face of the UDF surface).
# Sentence splitting is deterministic string work, so the DuckDB
# lateral generate_series oracle checks it exactly. UDTFs run in the
# Python worker (Arrow-batched rows): keep them OFF the hot path —
# this exists to prove the plumbing (worker-side package import,
# lateral correlation, schema contract).
# ---------------------------------------------------------------------------

_SENTENCE_SEP = r"[.!?]+\s+"


@udtf(returnType="sentence_idx bigint, sentence string", useArrow=True)
class SplitSentences:
    def eval(self, text: str):
        if text is None:
            return
        for i, part in enumerate(re.split(_SENTENCE_SEP, text)):
            yield i + 1, part.strip()


_UDTF_ORACLE = rf"""
WITH parts AS (
    SELECT doc_id, string_split_regex(text, '{_SENTENCE_SEP}') AS ps
    FROM documents
    WHERE doc_id % 17 = 0
)
SELECT p.doc_id,
       i.i AS sentence_idx,
       trim(p.ps[CAST(i.i AS INT)]) AS sentence
FROM parts p, LATERAL (SELECT unnest(generate_series(1, len(p.ps))) AS i) i
"""


@register(
    "udtf_split_sentences",
    _UDTF_ORACLE,
    doc="Python UDTF in a lateral join: one doc → N sentence rows "
    "(SURVEY §2.12 ext); oracle via lateral generate_series",
)
def q_udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    spark.udtf.register("split_sentences", SplitSentences)
    return spark.sql(
        """
        SELECT d.doc_id, s.sentence_idx, s.sentence
        FROM documents d, LATERAL split_sentences(d.text) s
        WHERE d.doc_id % 17 = 0
        """
    )


# ---------------------------------------------------------------------------
# Outer joins (the remaining join shapes): left-outer enrichment with
# null-fill, and full-outer reconciliation between two aggregates —
# the canonical "compare two pipelines' outputs" query. Both shuffle
# on the join key like any equi-join; the outer sides just keep
# unmatched rows, so cardinality is max(|A|,|B|), not |A∩B|.
# ---------------------------------------------------------------------------

_LEFT_OUTER_ORACLE = """
SELECT c.c_custkey,
       c.c_mktsegment,
       COALESCE(o.n_orders, 0) AS n_orders
FROM customer c
LEFT JOIN (
    SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey
) o ON o.o_custkey = c.c_custkey
"""


@register(
    "left_outer_enrichment",
    _LEFT_OUTER_ORACLE,
    doc="left-outer join with null-fill: every customer kept, zero-order "
    "customers get 0 (SURVEY §2.9 ext)",
)
def q_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    counts = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return cust.join(
        counts, cust.c_custkey == counts.o_custkey, "left"
    ).select(
        "c_custkey",
        "c_mktsegment",
        F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
    )


_FULL_OUTER_ORACLE = """
WITH before AS (
    SELECT o_custkey, count(*) AS n_before FROM orders
    WHERE o_orderdate < DATE '1997-01-01' GROUP BY o_custkey
),
after AS (
    SELECT o_custkey, count(*) AS n_after FROM orders
    WHERE o_orderdate >= DATE '1997-01-01' GROUP BY o_custkey
)
SELECT COALESCE(b.o_custkey, a.o_custkey) AS custkey,
       COALESCE(b.n_before, 0) AS n_before,
       COALESCE(a.n_after, 0) AS n_after
FROM before b FULL OUTER JOIN after a ON b.o_custkey = a.o_custkey
"""


@register(
    "full_outer_reconciliation",
    _FULL_OUTER_ORACLE,
    doc="full-outer reconciliation of two aggregates (customers active "
    "only before / only after / both) (SURVEY §2.9 ext)",
)
def q_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1997-01-01").cast("date")
    before = (
        orders.where(F.to_date("o_orderdate") < cutoff)
        .groupBy(F.col("o_custkey").alias("b_key"))
        .agg(F.count(F.lit(1)).alias("n_before"))
    )
    after = (
        orders.where(F.to_date("o_orderdate") >= cutoff)
        .groupBy(F.col("o_custkey").alias("a_key"))
        .agg(F.count(F.lit(1)).alias("n_after"))
    )
    return before.join(
        after, before.b_key == after.a_key, "full_outer"
    ).select(
        F.coalesce(F.col("b_key"), F.col("a_key")).alias("custkey"),
        F.coalesce(F.col("n_before"), F.lit(0)).alias("n_before"),
        F.coalesce(F.col("n_after"), F.lit(0)).alias("n_after"),
    )


# ---------------------------------------------------------------------------
# Null-safe equality (<=> / IS NOT DISTINCT FROM): NULL keys match
# each other instead of disappearing — the semantic SQL inner joins
# silently drop. Derived nullable key on both sides so the NULL
# bucket is exercised.
# ---------------------------------------------------------------------------

_NULL_SAFE_ORACLE = """
WITH l AS (
    SELECT n_name AS l_name,
           CASE WHEN n_regionkey = 2 THEN NULL ELSE n_regionkey END AS k
    FROM nation
),
r AS (
    SELECT n_name AS r_name,
           CASE WHEN n_regionkey = 2 THEN NULL ELSE n_regionkey END AS k
    FROM nation
)
SELECT l.l_name, r.r_name
FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
"""


@register(
    "null_safe_join",
    _NULL_SAFE_ORACLE,
    doc="null-safe equality join (<=> / IS NOT DISTINCT FROM): the NULL "
    "bucket matches itself (SURVEY §2.9 ext)",
)
def q_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    key = F.when(F.col("n_regionkey") == 2, F.lit(None)).otherwise(
        F.col("n_regionkey")
    )
    left = nation.select(F.col("n_name").alias("l_name"), key.alias("lk"))
    right = nation.select(F.col("n_name").alias("r_name"), key.alias("rk"))
    return left.join(
        right, left.lk.eqNullSafe(right.rk)
    ).select("l_name", "r_name")


# ---------------------------------------------------------------------------
# MapType surface: parse the JSON props into a real map<string,bigint>,
# explode its entries, aggregate per key — the generic form of
# json_props_agg (which extracts one known field). The map explode is
# a generator (map-side); only the per-key agg shuffles.
# ---------------------------------------------------------------------------

_MAP_FUNC_ORACLE = """
SELECT json_keys(props)[1] AS key,
       count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$."' || json_keys(props)[1] || '"')
                AS BIGINT)) AS BIGINT) AS sum_v
FROM events
GROUP BY 1
"""


@register(
    "map_entries_agg",
    _MAP_FUNC_ORACLE,
    doc="from_json → map<string,bigint> → explode entries → per-key agg "
    "(SURVEY §2.10 ext, MapType surface)",
)
def q_map_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    kv = ev.select(
        F.explode(F.from_json("props", "map<string,bigint>")).alias(
            "key", "value"
        )
    )
    return kv.groupBy("key").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("sum_v"),
    )


# ---------------------------------------------------------------------------
# Array / higher-order function suite over the embedding vectors:
# size, element max, lambda filter, sort+slice, and a left-to-right
# aggregate fold — every expression a native Catalyst HOF (zero UDFs),
# each with its exact DuckDB list-function twin. Floats pass through
# or fold in identical order, so parity is bitwise.
# ---------------------------------------------------------------------------

_ARRAY_FUNC_ORACLE = """
SELECT vec_id,
       len(embedding) AS dim,
       CAST(list_max(embedding) AS DOUBLE) AS vmax,
       CAST(list_filter(embedding, x -> x > 0)[1] AS DOUBLE) AS first_positive,
       CAST(list_sort(embedding)[1] AS DOUBLE) AS smallest1,
       CAST(list_sort(embedding)[2] AS DOUBLE) AS smallest2,
       CAST(list_sort(embedding)[3] AS DOUBLE) AS smallest3,
       list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS vsum
FROM embeddings
WHERE vec_id % 7 = 0
"""


@register(
    "array_functions_suite",
    _ARRAY_FUNC_ORACLE,
    doc="higher-order array functions (size/max/filter/sort+element/fold) "
    "with bitwise DuckDB list parity; the sorted prefix is projected as "
    "three scalar double columns so the external driver's canonicalizer "
    "(which cannot hash list cells) sees only scalars — float32→double "
    "widening is exact on both engines (SURVEY §2.10 ext)",
)
def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % 7 == 0
    )
    vec = F.col("embedding")
    srt = F.sort_array(vec)
    return emb.select(
        "vec_id",
        F.size(vec).cast("bigint").alias("dim"),
        F.array_max(vec).cast("double").alias("vmax"),
        F.element_at(F.filter(vec, lambda x: x > 0), 1)
        .cast("double")
        .alias("first_positive"),
        F.element_at(srt, 1).cast("double").alias("smallest1"),
        F.element_at(srt, 2).cast("double").alias("smallest2"),
        F.element_at(srt, 3).cast("double").alias("smallest3"),
        F.aggregate(
            vec, F.lit(0.0), lambda acc, x: acc + x.cast("double")
        ).alias("vsum"),
    )


# ---------------------------------------------------------------------------
# VARIANT (Spark 4 semi-structured type): parse the JSON props ONCE
# into the binary variant encoding, then extract typed paths — at
# 100 TB this replaces per-expression string re-parsing (the
# map/regexp approaches above) with a single decode and cheap typed
# access. Values come out identical to the JSON-path oracle.
# ---------------------------------------------------------------------------

_VARIANT_ORACLE = """
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
       max(CAST(props->>'$.k' AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
"""


@register(
    "variant_json_agg",
    _VARIANT_ORACLE,
    doc="parse_json -> VARIANT -> typed path extraction + agg (Spark 4 "
    "semi-structured fast path; SURVEY §2.10 ext)",
)
def q_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.try_variant_get(v, "$.k", "bigint")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
    )


# ---------------------------------------------------------------------------
# Interval range join: every follow-up event of the same user within
# one hour after a purchase (band join, not as-of: ALL matches, not
# just the nearest). The equi component (user_id) makes this a
# sort-merge join with the band as a residual predicate — no
# broadcast-nested-loop. At 100 TB: additionally bucket both sides by
# time bin (epoch/3600) and join on (user_id, bin) ∪ (user_id, bin+1)
# to bound each probe's scan to two bins; here user_id alone bounds
# candidates enough that the residual filter is cheap.
# ---------------------------------------------------------------------------

_RANGE_JOIN_ORACLE = """
SELECT a.event_id AS purchase_id,
       b.event_id AS follow_id,
       b.event_type AS follow_type
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND b.ts > a.ts
 AND b.ts <= a.ts + INTERVAL 1 HOUR
WHERE a.event_type = 'purchase'
"""


@register(
    "range_interval_join",
    _RANGE_JOIN_ORACLE,
    doc="band/interval join (all same-user events within 1h after each "
    "purchase) — equi key + range residual (SURVEY §2.9 custom op)",
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    follows = ev.select(
        F.col("event_id").alias("follow_id"),
        F.col("event_type").alias("follow_type"),
        "user_id",
        "ts",
    )
    return purchases.join(
        follows,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("ts") > F.col("p_ts"))
        & (F.col("ts") <= F.col("p_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("purchase_id", "follow_id", "follow_type")


# ---------------------------------------------------------------------------
# As-of join, direction="nearest" (completes the merge_asof family:
# backward, tolerance, forward, nearest). For each signup, the purchase
# CLOSEST in time on either side; equal distances resolve backward.
# One exchange + one sort — both directional fills ride the same
# window partition (operators/joins.py::_asof_join_nearest).
# ---------------------------------------------------------------------------

_ASOF_NEAREST_ORACLE = f"""
WITH s AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup'),
p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
b AS (
    SELECT s.event_id, s.ts, p.ts AS bt
    FROM s ASOF LEFT JOIN p ON s.user_id = p.user_id AND s.ts >= p.ts
),
f AS (
    SELECT s.event_id, p.ts AS ft
    FROM s ASOF LEFT JOIN p ON s.user_id = p.user_id AND s.ts <= p.ts
)
SELECT b.event_id,
       strftime(b.ts, '{TS_FMT_DUCK}') AS signup_ts,
       strftime(
           CASE WHEN f.ft IS NOT NULL AND (b.bt IS NULL
                     OR epoch_us(f.ft) - epoch_us(b.ts)
                        < epoch_us(b.ts) - epoch_us(b.bt))
                THEN f.ft ELSE b.bt END,
           '{TS_FMT_DUCK}') AS nearest_purchase_ts
FROM b JOIN f USING (event_id)
"""


@register(
    "asof_join_nearest",
    _ASOF_NEAREST_ORACLE,
    doc="nearest as-of join (merge_asof direction=nearest; tie -> "
    "backward, exact integer-microsecond distances); one shuffle, two "
    "window fills over the same sorted partition (SURVEY §2.9 "
    "custom-op ext)",
)
def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        direction="nearest",
    )
    return joined.select(
        "event_id",
        F.date_format("ts", TS_FMT_SPARK).alias("signup_ts"),
        F.date_format("matched_ts", TS_FMT_SPARK).alias(
            "nearest_purchase_ts"
        ),
    )


# ---------------------------------------------------------------------------
# MERGE/upsert (SCD1): apply an update+insert feed to a base table —
# updates win over base rows, inserts append. Spark has no MERGE INTO
# without a table format; the engine-level equivalent is one
# union + keep-newest-per-key window (single shuffle on the key,
# scales like latest-snapshot above). Feed is derived in-plan:
# every 10th customer gets +100.00 acctbal, and a disjoint +2M key
# range is inserted.
# ---------------------------------------------------------------------------

_MERGE_OFFSET = 2_000_000

_MERGE_ORACLE = f"""
WITH updates AS (
    SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal,
           'updated' AS src
    FROM customer WHERE c_custkey % 10 = 0
    UNION ALL
    SELECT c_custkey + {_MERGE_OFFSET}, 'New Account ' || c_custkey,
           0.0 AS c_acctbal, 'inserted' AS src
    FROM customer WHERE c_custkey % 25 = 0
),
unioned AS (
    SELECT c_custkey, c_name, c_acctbal, 'base' AS src, 0 AS prio
    FROM customer
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal, src, 1 AS prio FROM updates
)
SELECT c_custkey, c_name, c_acctbal, src
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY c_custkey ORDER BY prio DESC) AS rn
    FROM unioned
) WHERE rn = 1
"""


@register(
    "merge_upsert_customers",
    _MERGE_ORACLE,
    doc="MERGE/upsert (SCD1) as one union + keep-highest-priority "
    "window — updates override, inserts append; single key shuffle "
    "(SURVEY §2.9 warehouse ext)",
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    updates = cust.where(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        "c_name",
        (F.col("c_acctbal") + F.lit(100.0)).alias("c_acctbal"),
        F.lit("updated").alias("src"),
    )
    inserts = cust.where(F.col("c_custkey") % 25 == 0).select(
        (F.col("c_custkey") + _MERGE_OFFSET).alias("c_custkey"),
        F.concat(F.lit("New Account "), F.col("c_custkey")).alias("c_name"),
        F.lit(0.0).alias("c_acctbal"),
        F.lit("inserted").alias("src"),
    )
    unioned = (
        cust.withColumn("src", F.lit("base"))
        .withColumn("prio", F.lit(0))
        .unionByName(
            updates.unionByName(inserts).withColumn("prio", F.lit(1))
        )
    )
    w = Window.partitionBy("c_custkey").orderBy(F.col("prio").desc())
    return (
        unioned.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("c_custkey", "c_name", "c_acctbal", "src")
    )


# ---------------------------------------------------------------------------
# Z-order pruning DEMONSTRATION (makes zorder_layout_stats' claim
# quantitative). Same rows laid out two
# ways — Morton-key buckets vs single-column (pa) range buckets, 64
# buckets each — then two range predicates evaluated against each
# bucket's min/max footer stats, exactly the way parquet row-group
# skipping works. The demo emits, per (layout, predicate): buckets
# scanned and rows read. Z-order prunes on BOTH dimensions (the
# sb-only predicate still skips ~3/4 of buckets); the pa-sorted
# layout cannot prune an sb predicate at all — that asymmetry is the
# whole argument for multi-column clustering at 100 TB.
# ---------------------------------------------------------------------------


_PRED_BOX = (32, 63, 96, 127)  # pa in [32,63] AND sb in [96,127]
_PRED_SB = (None, None, 96, 127)  # sb-only


def _zorder_demo_sql() -> str:
    stats = """
keyed AS (
    SELECT l_partkey % 256 AS pa, l_orderkey % 256 AS sb,
           ({z}) AS zkey
    FROM lineitem
),
zstats AS (
    SELECT zkey // 1024 AS b, count(*) AS n,
           min(pa) AS min_pa, max(pa) AS max_pa,
           min(sb) AS min_sb, max(sb) AS max_sb
    FROM keyed GROUP BY 1
),
lstats AS (
    SELECT pa // 4 AS b, count(*) AS n,
           min(pa) AS min_pa, max(pa) AS max_pa,
           min(sb) AS min_sb, max(sb) AS max_sb
    FROM keyed GROUP BY 1
)
""".format(z=_z_sql("l_partkey % 256", "l_orderkey % 256"))
    selects = []
    for layout, tbl in (("zorder", "zstats"), ("linear_pa", "lstats")):
        for pname, (plo, phi, slo, shi) in (
            ("box", _PRED_BOX),
            ("sb_only", _PRED_SB),
        ):
            conds = []
            if plo is not None:
                conds.append(f"(max_pa >= {plo} AND min_pa <= {phi})")
            conds.append(f"(max_sb >= {slo} AND min_sb <= {shi})")
            scanned = " AND ".join(conds)
            selects.append(
                f"SELECT '{layout}' AS layout, '{pname}' AS predicate,\n"
                f"       count(*) AS n_buckets,\n"
                f"       count(*) FILTER (WHERE {scanned}) AS n_scanned,\n"
                f"       CAST(coalesce(sum(n) FILTER (WHERE {scanned}), 0)"
                f" AS BIGINT) AS rows_scanned\n"
                f"FROM {tbl}"
            )
    return "WITH " + stats + "\n" + "\nUNION ALL\n".join(selects)


_ZORDER_DEMO_ORACLE = _zorder_demo_sql()


@register(
    "zorder_pruning_demo",
    _ZORDER_DEMO_ORACLE,
    doc="quantified Z-order pruning: buckets/rows scanned for a 2-D "
    "box predicate AND a single-dimension predicate under Morton vs "
    "single-column layout — the sb-only case is where linear layout "
    "reads everything and Z-order still skips ~3/4 (SURVEY §7.4 "
    "layout ext)",
)
def q_zorder_pruning_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % 256).alias("pa"),
        (F.col("l_orderkey") % 256).alias("sb"),
    )
    keyed = li.withColumn("zkey", _z_spark(F.col("pa"), F.col("sb")))

    def stats(bucket):
        return keyed.groupBy(bucket.alias("b")).agg(
            F.count(F.lit(1)).alias("n"),
            F.min("pa").alias("min_pa"),
            F.max("pa").alias("max_pa"),
            F.min("sb").alias("min_sb"),
            F.max("sb").alias("max_sb"),
        )

    # Each stats frame feeds BOTH predicate branches: persist the
    # 64-row tables so the lineitem scan runs once per layout, not
    # once per (layout, predicate) — the audited first cut re-scanned
    # the fact 4x.
    zstats = track_persist(stats(F.expr("zkey div 1024")))
    lstats = track_persist(stats(F.expr("pa div 4")))

    outs = []
    for layout, st in (("zorder", zstats), ("linear_pa", lstats)):
        for pname, (plo, phi, slo, shi) in (
            ("box", _PRED_BOX),
            ("sb_only", _PRED_SB),
        ):
            cond = (F.col("max_sb") >= slo) & (F.col("min_sb") <= shi)
            if plo is not None:
                cond = (
                    cond
                    & (F.col("max_pa") >= plo)
                    & (F.col("min_pa") <= phi)
                )
            outs.append(
                st.agg(
                    F.count(F.lit(1)).alias("n_buckets"),
                    F.count_if(cond).alias("n_scanned"),
                    F.coalesce(
                        F.sum(F.when(cond, F.col("n"))), F.lit(0)
                    )
                    .cast("bigint")
                    .alias("rows_scanned"),
                ).select(
                    F.lit(layout).alias("layout"),
                    F.lit(pname).alias("predicate"),
                    "n_buckets",
                    "n_scanned",
                    "rows_scanned",
                )
            )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ---------------------------------------------------------------------------
# UNPIVOT (melt): the registry has pivot (wide from long) but not its
# inverse — Spark's DataFrame.unpivot / ANSI UNPIVOT, which plans as
# a map-side Expand (the same machinery as grouping sets): each input
# row fans out to one row per measure with NO shuffle; the only
# shuffle is the final small aggregate (4 measures x #flags groups,
# partial-agg shrunk map-side). Measure sums are exact integer cents
# (floor(val*100) — floor BEFORE the cast because DuckDB CAST rounds
# while Spark truncates), so float-sum order dependence never enters.
# ---------------------------------------------------------------------------

_UNPIVOT_LONG_ORACLE = """
WITH long AS (
    UNPIVOT (
        SELECT l_returnflag, l_quantity, l_extendedprice, l_discount, l_tax
        FROM lineitem
    ) ON l_quantity, l_extendedprice, l_discount, l_tax
    INTO NAME measure VALUE val
)
SELECT l_returnflag, measure,
       CAST(sum(CAST(floor(val * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(count(*) AS BIGINT) AS n_rows
FROM long
GROUP BY l_returnflag, measure
"""


@register(
    "unpivot_measures_long",
    _UNPIVOT_LONG_ORACLE,
    doc="UNPIVOT/melt of four lineitem measures to long form (map-side "
    "Expand, zero shuffle until the final tiny aggregate) with exact "
    "integer-cents sums per (returnflag, measure) — the inverse of "
    "pivot_event_counts completes the reshape pair",
)
def q_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice", "l_discount", "l_tax"
    )
    long = li.unpivot(
        ids=["l_returnflag"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="val",
    )
    return long.groupBy("l_returnflag", "measure").agg(
        F.sum(F.floor(F.col("val") * 100).cast("bigint"))
        .cast("bigint")
        .alias("sum_cents"),
        F.count("*").cast("bigint").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Spark 4.x SQL surface: correlated LATERAL join, ordered-set listagg,
# and SQL-defined UDFs, each checked against the same SQL on DuckDB.
# ---------------------------------------------------------------------------

_LATERAL_TOPK_SQL = """
SELECT c.c_custkey, t.o_orderkey,
       CAST(floor(t.o_totalprice * 100) AS BIGINT) AS price_cents
FROM customer c JOIN LATERAL (
    SELECT o_orderkey, o_totalprice FROM orders o
    WHERE o.o_custkey = c.c_custkey
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
) t ON true
WHERE c.c_custkey % 100 = 0
"""


@register(
    "lateral_topk_per_customer",
    _LATERAL_TOPK_SQL,
    doc="correlated JOIN LATERAL with per-customer ORDER BY ... LIMIT 2 "
    "(the top-k-per-entity idiom written the SQL-standard way): "
    "Catalyst DECORRELATES it into WindowGroupLimit — map-side partial "
    "top-k pruning BEFORE the shuffle, then a broadcast join; no "
    "nested loop anywhere (plan-pinned). Portable SQL text is query "
    "and oracle; deterministic key tie-break",
)
def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_TOPK_SQL)


# listagg (Spark 4.x) vs string_agg (DuckDB): same ordered-set
# semantics, different spellings — the one family where the texts
# must differ. The deterministic WITHIN GROUP order makes the
# concatenation exact; md5 keeps the row narrow.

_LISTAGG_ORACLE = """
SELECT n_name,
       md5(string_agg(s_name, '|' ORDER BY s_name)) AS names_md5,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       CAST(sum(CAST(floor(s_acctbal * 100) AS BIGINT)) AS BIGINT)
           AS bal_cents
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
"""


@register(
    "listagg_supplier_directory",
    _LISTAGG_ORACLE,
    doc="ordered-set string aggregation: Spark 4.x listagg(...) WITHIN "
    "GROUP (ORDER BY ...) per nation, md5-projected; DuckDB replays "
    "with string_agg(... ORDER BY ...) — the explicit order makes the "
    "concatenation deterministic, the md5 hash makes any element or "
    "order slip a value mismatch",
)
def q_listagg_directory(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n_name,
               md5(listagg(s_name, '|') WITHIN GROUP (ORDER BY s_name))
                   AS names_md5,
               CAST(count(*) AS BIGINT) AS n_suppliers,
               CAST(sum(CAST(floor(s_acctbal * 100) AS BIGINT)) AS BIGINT)
                   AS bal_cents
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name
        """
    )


# SQL-defined UDF (Spark 4.x CREATE FUNCTION ... RETURN expr): the
# function body is pure SQL, so Catalyst INLINES it — unlike Python
# UDFs there is no serialization boundary, no Arrow hop, full
# codegen; this is the right tool for shared scalar business logic.
# The oracle inlines the identical expression by hand, proving the
# inlining is semantics-preserving.

_SQL_UDF_ORACLE = """
SELECT o_orderpriority,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS total_cents,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY o_orderpriority
"""


@register(
    "sql_udf_order_cents",
    _SQL_UDF_ORACLE,
    doc="SQL-defined scalar UDF (Spark 4.x CREATE TEMPORARY FUNCTION "
    "... RETURN expr) used inside a grouped aggregate: the body is "
    "inlined by Catalyst — no serialization boundary, stays in "
    "whole-stage codegen, unlike any Python UDF; the oracle hand-"
    "inlines the same expression so parity certifies the inlining",
)
def q_sql_udf_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION order_cents(x DOUBLE) "
        "RETURNS BIGINT RETURN CAST(floor(x * 100) AS BIGINT)"
    )
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(sum(order_cents(o_totalprice)) AS BIGINT) AS total_cents,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM orders
        GROUP BY o_orderpriority
        """
    )


# ---------------------------------------------------------------------------
# Arrow-NATIVE batch UDF surface: mapInArrow is the lowest-
# overhead Python boundary Spark has — RecordBatches flow straight
# into pyarrow.compute kernels with NO pandas materialization (the
# pandas_udf/mapInPandas paths each pay an Arrow<->pandas conversion
# per batch). The registry exercises every other §2.12 surface
# (pandas_udf, mapInPandas, grouped map, UDTF); this completes it.
# The kernels here are exact integer facts (utf8 byte length, space
# count) so DuckDB replays them with strlen/replace arithmetic.
# ---------------------------------------------------------------------------

_ARROW_NATIVE_ORACLE = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
       CAST(sum(length(text) - length(replace(text, ' ', ''))) AS BIGINT)
           AS total_spaces
FROM documents
GROUP BY lang
"""


@register(
    "arrow_native_batch_stats",
    _ARROW_NATIVE_ORACLE,
    doc="mapInArrow (Arrow-native batch UDF — pyarrow.compute kernels "
    "on RecordBatches, zero pandas conversion) computing per-doc utf8 "
    "byte length and space count, aggregated per lang; completes the "
    "SURVEY §2.12 Python-boundary matrix alongside pandas_udf / "
    "mapInPandas / grouped-map / UDTF",
)
def q_arrow_native_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa

    def kernel(batches):
        import pyarrow.compute as pc

        for batch in batches:
            t = pa.Table.from_batches([batch])
            yield pa.RecordBatch.from_arrays(
                [
                    t["lang"].combine_chunks(),
                    pc.binary_length(
                        t["text"].combine_chunks().cast(pa.binary())
                    ).cast(pa.int64()),
                    pc.count_substring(t["text"].combine_chunks(), " ").cast(
                        pa.int64()
                    ),
                ],
                names=["lang", "n_bytes", "n_spaces"],
            )

    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    mapped = docs.mapInArrow(
        kernel, "lang string, n_bytes bigint, n_spaces bigint"
    )
    return mapped.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_bytes").cast("bigint").alias("total_bytes"),
        F.sum("n_spaces").cast("bigint").alias("total_spaces"),
    )


# applyInArrow — the GROUPED Arrow-native cell: each language's docs
# arrive as one pyarrow.Table (no pandas), and the kernel computes a
# whole-group order statistic (discrete low median of byte lengths —
# something a plain aggregate can't do without a sort) in Arrow
# compute. Oracle replays with a per-group row_number.

_ARROW_GROUPED_ORACLE = """
WITH b AS (
    SELECT lang, strlen(text) AS nb FROM documents
),
r AS (
    SELECT lang, nb,
           row_number() OVER (PARTITION BY lang ORDER BY nb) AS rn,
           count(*) OVER (PARTITION BY lang) AS n
    FROM b
)
SELECT lang,
       CAST(max(n) AS BIGINT) AS n_docs,
       CAST(max(CASE WHEN rn = (n + 1) // 2 THEN nb END) AS BIGINT)
           AS median_bytes,
       CAST(max(nb) AS BIGINT) AS max_bytes
FROM r GROUP BY lang
"""


@register(
    "arrow_grouped_apply_stats",
    _ARROW_GROUPED_ORACLE,
    doc="applyInArrow (grouped Arrow-native UDF — each group one "
    "pyarrow.Table, zero pandas) computing the discrete low-median "
    "byte length per language, a whole-group order statistic that "
    "justifies the grouped shape; oracle replays via per-group "
    "row_number (§2.12 matrix)",
)
def q_arrow_grouped_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa

    def fn(t: "pa.Table") -> "pa.Table":
        import pyarrow.compute as pc

        lang = t["lang"][0].as_py()
        nb = pc.binary_length(
            t["text"].combine_chunks().cast(pa.binary())
        ).cast(pa.int64())
        sorted_nb = pc.array_sort_indices(nb)
        n = len(nb)
        median = nb[sorted_nb[(n + 1) // 2 - 1].as_py()].as_py()
        return pa.table(
            {
                "lang": [lang],
                "n_docs": pa.array([n], pa.int64()),
                "median_bytes": pa.array([median], pa.int64()),
                "max_bytes": pa.array([pc.max(nb).as_py()], pa.int64()),
            }
        )

    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    return docs.groupBy("lang").applyInArrow(
        fn, "lang string, n_docs bigint, median_bytes bigint, max_bytes bigint"
    )


# arrow_udf — the SCALAR Arrow-native cell (Spark 4.x): a vectorized
# column UDF whose batches are pyarrow Arrays end to end, usable
# inside ordinary projections unlike mapInArrow. Same exact-integer
# contract: count of a literal substring, replayed by the oracle with
# replace() arithmetic.

_ARROW_SCALAR_ORACLE = """
SELECT lang,
       CAST(sum(length(text) - length(replace(text, 'e', ''))) AS BIGINT)
           AS total_e,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents
GROUP BY lang
"""


@register(
    "arrow_scalar_udf_stats",
    _ARROW_SCALAR_ORACLE,
    doc="scalar arrow_udf (Spark 4.x vectorized Arrow column UDF — "
    "pyarrow Array in, Array out, inside a normal projection) counting "
    "a literal substring per doc, aggregated per lang; the third "
    "Arrow-native cell beside mapInArrow / applyInArrow (§2.12 matrix)",
)
def q_arrow_scalar_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import arrow_udf

    @arrow_udf("bigint")
    def count_e(text: pa.Array) -> pa.Array:
        import pyarrow.compute as pc

        return pc.count_substring(text, "e").cast(pa.int64())

    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    return (
        docs.select("lang", count_e("text").alias("n_e"))
        .groupBy("lang")
        .agg(
            F.sum("n_e").cast("bigint").alias("total_e"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        )
    )


# ---------------------------------------------------------------------------
# Installment schedule as a table function: each order's total is
# split into k = 1 + o_orderkey % 6 installments by the
# largest-remainder method (the first ``total mod k`` installments
# carry one extra cent), so the per-order sum reconstructs the total
# EXACTLY — the same integer-exactness discipline as
# corpus_domain_mixture's allocation. A UDTF is the honest shape for
# this: one input row fans out to a data-dependent number of output
# rows with per-row arithmetic, the lateral-join idiom SQL engines
# expose as table functions.
#
# Scale design: ArrowEvalPythonUDTF is a map-side operator — no
# shuffle, Arrow-batched both directions, parallelism = task count;
# the scan stays column-pruned (o_orderkey, o_totalprice only,
# plan-pinned in tests/test_udtf.py). Fan-out is bounded by k <= 6,
# so output volume is a constant factor of the input, never
# data-squared.
# ---------------------------------------------------------------------------


@udtf(returnType="installment int, amount_cents bigint", useArrow=True)
class _InstallmentsUDTF:
    def eval(self, total_cents: int, k: int):  # noqa: ANN001
        base = total_cents // k
        rem = total_cents - base * k
        for i in range(k):
            yield i, base + (1 if i < rem else 0)


_INSTALLMENTS_SQL = """
SELECT o.o_orderkey AS orderkey,
       i.installment AS installment,
       i.amount_cents AS amount_cents
FROM (SELECT /*+ REPARTITION({parts}) */ o_orderkey,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS total_cents,
             CAST(1 + o_orderkey % 6 AS INT) AS k
      FROM orders) o,
LATERAL sg_installments(o.total_cents, o.k) i
"""
# The REPARTITION is load-bearing: the UDTF evaluates per ROW (Arrow
# batches the transfer, not the eval), and a single-file scan would
# otherwise run the whole fan-out in ONE task — measured 15-19 s at
# sf0.1 vs ~1 s with the skinny 2-column input spread over the cores.
# The count must be EXPLICIT (defaultParallelism, injected at call
# time): a bare /*+ REPARTITION */ hint is AQE-coalescible, and AQE
# happily squeezed the ~3 MB input to 2 partitions — byte-based
# coalescing is blind to the Python cost per row above it. Standard
# shape for any Python fan-out: spread the cheap side BEFORE the
# expensive per-row stage so parallelism equals task count, not file
# count or input bytes.

_INSTALLMENTS_ORACLE = """
WITH o AS (
    SELECT o_orderkey,
           CAST(floor(o_totalprice * 100) AS BIGINT) AS total_cents,
           CAST(1 + o_orderkey % 6 AS BIGINT) AS k
    FROM orders
)
SELECT o.o_orderkey AS orderkey,
       CAST(i.installment AS INT) AS installment,
       CAST(o.total_cents // o.k
            + CASE WHEN i.installment < o.total_cents % o.k THEN 1 ELSE 0 END
            AS BIGINT) AS amount_cents
FROM o, LATERAL (SELECT unnest(range(o.k)) AS installment) i
"""


@register(
    "arrow_udtf_installments",
    _INSTALLMENTS_ORACLE,
    doc="largest-remainder installment schedule as an Arrow-optimized "
    "Python UDTF under LATERAL correlation — completes the SURVEY "
    "§2.12 boundary matrix's table-function cell; exact integer "
    "amounts, map-side fan-out bounded by k<=6",
)
def q_arrow_udtf_installments(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Session-scoped registration; re-registering replaces, so repeat
    # invocations (serving mix, parity loops) are safe.
    spark.udtf.register("sg_installments", _InstallmentsUDTF)
    register_views(spark, sf_dir)
    return spark.sql(
        _INSTALLMENTS_SQL.format(parts=spark.sparkContext.defaultParallelism)
    )
