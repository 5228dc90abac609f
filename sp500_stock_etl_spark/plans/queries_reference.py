"""Queries covering the reference's own operator surface
(SURVEY.md §2.1-§2.8, §2.10): scans, filters/predicates, scalar
derivations, window lag metrics, union, sort/limit, QA aggregates, and
the data-quality expectation queries (SURVEY §5.1).

Data-quality rules are evaluated over lineitem in one scan: violation
counts for monitoring, quarantined rows for repair. The rule
thresholds are chosen so some rules fail on real fixture rows (a
checker that never fires proves nothing). Oracle notes: fraction
literals are pinned with CAST(... AS DOUBLE) (DuckDB parses 0.06 as
exact DECIMAL, Spark as IEEE double — boundary rows would flip);
integer violation sums are CAST AS BIGINT (DuckDB sum(int) is
HUGEINT).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.cleaning import sql_valid_symbol, valid_symbol
from ..functions.rounding import round_half_up, sql_round
from ..io.readers import load_table
from ..operators import expectations as E
from ..operators.aggregates import qa_summary
from .flagship import flagship_metrics
from .registry import register


# ---------------------------------------------------------------------------
# Flagship: the whole reference analytics kernel in one plan
# (dags/sp500_dag.py.py:95-216; SURVEY.md §7.1 step 2).
# ---------------------------------------------------------------------------

_FLAGSHIP_ORACLE = f"""
WITH quotes AS (
    SELECT l_partkey AS symbol,
           CAST(l_shipdate AS DATE) AS trade_date,
           l_extendedprice AS close,
           l_extendedprice * (1.0 + l_tax) AS high,
           l_extendedprice * (1.0 - l_discount) AS low,
           l_quantity AS volume,
           l_orderkey AS order_key,
           l_linenumber AS line_number
    FROM lineitem
), w AS (
    SELECT *,
           lag(close) OVER (
               PARTITION BY symbol
               ORDER BY trade_date, order_key, line_number) AS prev_close
    FROM quotes
)
SELECT trade_date,
       symbol,
       {sql_round('close', 2)} AS close,
       {sql_round('high', 2)} AS high,
       {sql_round('low', 2)} AS low,
       CAST(volume AS DOUBLE) AS volume,
       {sql_round('coalesce(close - prev_close, 0)', 4)} AS close_change,
       {sql_round('coalesce((close / prev_close - 1.0) * 100.0, 0)', 4)} AS close_pct_change,
       {sql_round('(high - low)', 4)} AS daily_range,
       {sql_round('coalesce((high - low) / low * 100.0, 0)', 4)} AS daily_range_pct
FROM w
WHERE trade_date IS NOT NULL AND symbol IS NOT NULL AND close IS NOT NULL
ORDER BY trade_date, symbol
"""


@register(
    "flagship_window_metrics",
    _FLAGSHIP_ORACLE,
    doc="scan→project→cast/round→lag window→null-drop→sort (SURVEY §7.1.2)",
)
def q_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    return flagship_metrics(spark, sf_dir)


# ---------------------------------------------------------------------------
# P1-P7 + D6/D7: filtered scan with projection and derived column.
# Catalyst pushes the date/discount predicates into the parquet scan
# (PushedFilters) and prunes ReadSchema to 6 columns — the reference
# instead materialized everything and projected last
# (dags/sp500_dag.py.py:189-194).
# ---------------------------------------------------------------------------

_FILTERED_SCAN_ORACLE = f"""
SELECT l_orderkey,
       l_partkey,
       CAST(l_shipdate AS DATE) AS ship_date,
       l_extendedprice,
       l_discount,
       {sql_round('l_extendedprice * (1.0 - l_discount)', 2)} AS revenue
FROM lineitem
WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
  AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
"""


@register(
    "filtered_scan_projection",
    _FILTERED_SCAN_ORACLE,
    doc="P1-P7/D4-D7: pushed-down predicates + pruned projection (SURVEY §2.3)",
)
def q_filtered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    ship = F.to_date("l_shipdate")
    return (
        li.where(
            (ship >= F.lit("1996-01-01").cast("date"))
            & (ship < F.lit("1997-01-01").cast("date"))
            & F.col("l_discount").between(0.05, 0.07)
        )
        .select(
            "l_orderkey",
            "l_partkey",
            ship.alias("ship_date"),
            "l_extendedprice",
            "l_discount",
            round_half_up(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 2
            ).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# A1-A5: the QA/verification aggregate — one fused pass
# (dags/sp500_dag.py.py:219-227 and the in-warehouse copy at :381-386,
# fixing its trailing-comma syntax bug, SURVEY.md §7.5.6).
# ---------------------------------------------------------------------------

_QA_ORACLE = """
SELECT count(*) AS row_count,
       count(DISTINCT l_partkey) AS distinct_keys,
       CAST(min(l_shipdate) AS DATE) AS min_date,
       CAST(max(l_shipdate) AS DATE) AS max_date,
       count(CASE WHEN l_returnflag IS NULL THEN 1 END) AS nulls_l_returnflag,
       count(CASE WHEN l_extendedprice IS NULL THEN 1 END) AS nulls_l_extendedprice,
       count(CASE WHEN l_shipdate IS NULL THEN 1 END) AS nulls_l_shipdate
FROM lineitem
"""


@register(
    "qa_aggregate",
    _QA_ORACLE,
    doc="A1-A5: count/count-distinct/min/max/null-counts fused (SURVEY §2.8)",
)
def q_qa_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return qa_summary(
        li, "l_partkey", "l_shipdate",
        ["l_returnflag", "l_extendedprice", "l_shipdate"],
    )


# ---------------------------------------------------------------------------
# P3/P4: the reference's ticker-validity predicate
# (dags/sp500_dag.py.py:52-60) over a string dimension.
# ---------------------------------------------------------------------------

_SYMBOL_ORACLE = f"""
SELECT DISTINCT upper(trim(source)) AS symbol
FROM documents
WHERE {sql_valid_symbol('upper(trim(source))')}
"""


@register(
    "symbol_validation",
    _SYMBOL_ORACLE,
    doc="P3/P4: trim→non-empty→len<=5→alnum-after-strip predicate (SURVEY §2.3)",
)
def q_symbol_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sym = F.upper(F.trim(F.col("source")))
    return (
        docs.select(sym.alias("symbol"))
        .where(valid_symbol(F.col("symbol")))
        .distinct()
    )


# ---------------------------------------------------------------------------
# O1-O3: global multi-key sort + top-k. A total tie-break order makes
# the limit deterministic under parallelism (the reference's pandas
# sort was single-threaded stable, dags/sp500_dag.py.py:216).
# Spark plans this as TakeOrderedAndProject — no full range shuffle.
# ---------------------------------------------------------------------------

_TOPK_ORACLE = """
SELECT l_orderkey, l_linenumber, l_partkey, l_extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
LIMIT 100
"""


@register(
    "global_sort_topk",
    _TOPK_ORACLE,
    doc="O1-O3: global sort + limit → TakeOrderedAndProject (SURVEY §2.7)",
)
def q_global_sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice")
        .orderBy(
            F.col("l_extendedprice").desc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        )
        .limit(100)
    )


# ---------------------------------------------------------------------------
# U1 + distinct: union-all of two overlapping filtered sets, then
# distinct. The reference's concat (dags/sp500_dag.py.py:213) is the
# degenerate no-overlap case; distinct is the §7.3 set-op extension.
# ---------------------------------------------------------------------------

_UNION_ORACLE = """
SELECT DISTINCT o_orderstatus, o_orderpriority
FROM (
    SELECT o_orderstatus, o_orderpriority FROM orders WHERE o_totalprice > 100000
    UNION ALL
    SELECT o_orderstatus, o_orderpriority FROM orders WHERE o_orderstatus = 'F'
) u
"""


@register(
    "union_all_distinct",
    _UNION_ORACLE,
    doc="U1 + distinct: unionByName of overlapping sets (SURVEY §2.6)",
)
def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    a = orders.where(F.col("o_totalprice") > 100000).select(
        "o_orderstatus", "o_orderpriority"
    )
    b = orders.where(F.col("o_orderstatus") == "F").select(
        "o_orderstatus", "o_orderpriority"
    )
    return a.unionByName(b).distinct()


# ---------------------------------------------------------------------------
# Top-k movers per day (SURVEY §2.5 note): ranking over the flagship's
# derived metrics — rank symbols by close_pct_change within each date.
# The oracle nests the flagship oracle as a derived table.
# ---------------------------------------------------------------------------

_TOPK_MOVERS_ORACLE = f"""
SELECT trade_date, symbol, close_pct_change, CAST(rn AS BIGINT) AS day_rank
FROM (
    SELECT trade_date, symbol, close_pct_change,
           row_number() OVER (
               PARTITION BY trade_date
               ORDER BY close_pct_change DESC, symbol) AS rn
    FROM ({_FLAGSHIP_ORACLE}) flagship
) ranked
WHERE rn <= 3
"""


@register(
    "topk_movers_per_day",
    _TOPK_MOVERS_ORACLE,
    doc="top-3 daily movers: rank over partitionBy(date) on the flagship "
    "metrics (SURVEY §2.5 extension noted in the survey)",
)
def q_topk_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    metrics = flagship_metrics(spark, sf_dir)
    w = W.partitionBy("trade_date").orderBy(
        F.col("close_pct_change").desc(), F.col("symbol")
    )
    return (
        metrics.withColumn("day_rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("day_rank") <= 3)
        .select("trade_date", "symbol", "close_pct_change", "day_rank")
    )


# ---------------------------------------------------------------------------
# Data-quality expectations: one rule set, as Column predicates for the
# engine and as SQL for the oracle (see the module docstring).
# ---------------------------------------------------------------------------


def _rules():
    return {
        "discount_capped": F.col("l_discount") <= 0.09,
        "price_capped": F.col("l_extendedprice") < 101000.0,
        "qty_in_range": (F.col("l_quantity") > 0) & (F.col("l_quantity") <= 48),
        "returnflag_domain": F.col("l_returnflag").isin("A", "N", "R"),
        "shipdate_floor": F.to_date("l_shipdate")
        >= F.lit("1992-01-01").cast("date"),
    }


_SQL_RULES = {
    "discount_capped": "l_discount <= CAST(0.09 AS DOUBLE)",
    "price_capped": "l_extendedprice < CAST(101000.0 AS DOUBLE)",
    "qty_in_range": "l_quantity > 0 AND l_quantity <= 48",
    "returnflag_domain": "l_returnflag IN ('A', 'N', 'R')",
    "shipdate_floor": "CAST(l_shipdate AS DATE) >= DATE '1992-01-01'",
}

_COUNTS_ORACLE = "SELECT CAST(count(*) AS BIGINT) AS row_count, " + ", ".join(
    f"CAST(sum(CASE WHEN COALESCE({sql}, FALSE) THEN 0 ELSE 1 END) AS BIGINT)"
    f" AS {name}"
    for name, sql in _SQL_RULES.items()
) + " FROM lineitem"


@register(
    "dq_violation_counts",
    _COUNTS_ORACLE,
    doc="declarative data-quality rule set evaluated in ONE scan: per-rule "
    "violation counts + row_count (the reference's scattered runtime "
    "checks, dags/sp500_dag.py.py:47,64,186,223-227, as a monitoring "
    "aggregate)",
)
def q_dq_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return E.violation_counts(li, _rules())


_QUARANTINE_ORACLE = (
    "SELECT l_orderkey, l_linenumber, array_to_string(list_filter(["
    + ", ".join(
        f"CASE WHEN NOT COALESCE({_SQL_RULES[name]}, FALSE) THEN '{name}' END"
        for name in sorted(_SQL_RULES)
    )
    + "], x -> x IS NOT NULL), ',') AS failed_rules "
    "FROM lineitem "
    "WHERE array_to_string(list_filter(["
    + ", ".join(
        f"CASE WHEN NOT COALESCE({_SQL_RULES[name]}, FALSE) THEN '{name}' END"
        for name in sorted(_SQL_RULES)
    )
    + "], x -> x IS NOT NULL), ',') <> ''"
)


@register(
    "dq_quarantine_rows",
    _QUARANTINE_ORACLE,
    doc="quarantine feed: rows failing any rule, annotated with the "
    "comma-joined rule names they broke — the engine version of "
    "ON_ERROR='CONTINUE' (dags/sp500_dag.py.py:377) that keeps the "
    "violation information instead of discarding it",
)
def q_dq_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return E.quarantine(li, _rules(), ["l_orderkey", "l_linenumber"])
