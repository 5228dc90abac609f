"""Source/format coverage beyond the canonical parquet scan (SURVEY.md
§2.1 S3/S4 ext): ORC and JSON-lines round-trips through real on-disk
staging (schema-first reads, no inference in the hot path), plus
explode/lateral and cross-join coverage on the Spark side.

Round-trip queries stage under a temp directory per call and read the
result back, so the oracle (DuckDB over the original parquet) checks
the whole write→read cycle for losslessness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..caching import temp_dir
from ..functions.text import sql_tokens, tokens
from ..io.readers import load_table
from ..operators.aggregates import dec
from .registry import register

# ---------------------------------------------------------------------------
# Explode / lateral: corpus token frequency. The Spark side explodes a
# generated token array (generator → nested loop inside the stage, no
# extra shuffle beyond the final agg); ties broken by (count desc,
# token asc) total order so the LIMIT frontier is deterministic.
# At 100 TB the explode fan-out (~tokens-per-doc ×) happens map-side
# before the partial agg, so the shuffle carries only (token, count)
# partials — cardinality of the vocabulary, not the corpus.
# ---------------------------------------------------------------------------

_TOKEN_FREQ_ORACLE = f"""
WITH toks AS (
    SELECT unnest({sql_tokens('text')}) AS token FROM documents
)
SELECT token, count(*) AS n
FROM toks
WHERE token <> ''
GROUP BY token
ORDER BY n DESC, token
LIMIT 20
"""


@register(
    "token_frequency_topn",
    _TOKEN_FREQ_ORACLE,
    doc="explode(tokens) → map-side partial agg → top-20 vocabulary "
    "(SURVEY §2.10 ext, generator/lateral coverage)",
)
def q_token_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# ORC round-trip: columnar sibling of parquet (predicate pushdown +
# column pruning work the same way through the ORC vectorized
# reader). Write a projected/filtered slice out as ORC, read it back
# schema-first, aggregate; DuckDB checks against the ORIGINAL parquet,
# so any loss in the write→read cycle fails parity.
# ---------------------------------------------------------------------------

_ORC_ORACLE = """
SELECT l_returnflag,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       count(*) AS n
FROM lineitem
WHERE l_quantity < 25.0
GROUP BY l_returnflag
"""


@register(
    "orc_roundtrip_agg",
    _ORC_ORACLE,
    doc="ORC write→read round-trip (SURVEY §2.1/§2.2 format ext); oracle "
    "runs on the original parquet so lossy cycles fail",
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity"
    )
    path = temp_dir("sg_orc_") + "/lineitem_orc"
    li.write.mode("overwrite").orc(path)
    schema = T.StructType(
        [
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_quantity", T.DoubleType()),
        ]
    )
    back = spark.read.schema(schema).orc(path)
    return (
        back.where(F.col("l_quantity") < 25.0)
        .groupBy("l_returnflag")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# JSON-lines round-trip: the interchange format of every scraping /
# API source in the reference family (S1/S2 are HTTP → records).
# Timestamps travel as formatted strings (micro precision) and are
# re-parsed on read — the same cleansing-cast discipline as the CSV
# reader (D1/D6).
# ---------------------------------------------------------------------------

_JSONL_ORACLE = """
SELECT event_type,
       CAST(strftime(ts, '%Y-%m-%d') AS DATE) AS day,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


@register(
    "jsonl_source_agg",
    _JSONL_ORACLE,
    doc="JSON-lines write→schema-first read→daily agg (SURVEY §2.1 S1/S2 "
    "interchange format); timestamps as micro-precision strings",
)
def q_jsonl_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        "event_type",
        "value",
    )
    path = temp_dir("sg_jsonl_") + "/events_json"
    ev.write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.StringType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    back = spark.read.schema(schema).json(path)
    return (
        back.withColumn(
            "ts", F.to_timestamp("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        )
        .groupBy(
            "event_type", F.to_date("ts").alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value")).cast("double").alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# Explicit cartesian product (the only join shape with no key): tiny
# dims only — region × nation is 125 rows; anything larger must carry
# a key or a band predicate (range_interval_join). Spark requires the
# explicit crossJoin call unless spark.sql.crossJoin.enabled.
# ---------------------------------------------------------------------------

_CROSS_ORACLE = """
SELECT r.r_name, n.n_name, (n.n_regionkey = r.r_regionkey) AS is_home
FROM region r CROSS JOIN nation n
"""


@register(
    "cross_join_dims",
    _CROSS_ORACLE,
    doc="explicit cartesian product over broadcast-sized dims "
    "(SURVEY §2.9 ext)",
)
def q_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    return region.crossJoin(nation).select(
        "r_name",
        "n_name",
        (F.col("n_regionkey") == F.col("r_regionkey")).alias("is_home"),
    )


# ---------------------------------------------------------------------------
# CSV round-trip through the REFERENCE's exact contract: write with
# the K1 sink (QUOTE_ALL, %.4f floats, '' nulls, yyyy-MM-dd —
# dags/sp500_dag.py.py:234-242), read back with the S3 cleansing
# reader (quote/trim/NULL_IF/try_cast — dags/sp500_dag.py.py:367-376),
# aggregate. The oracle reads the ORIGINAL parquet: parity proves the
# reference's CSV interchange is lossless for this schema (every
# value has <= 4 decimal places, so %.4f is exact).
# ---------------------------------------------------------------------------

_CSV_ROUNDTRIP_ORACLE = """
SELECT l_returnflag,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
       count(*) AS n,
       min(CAST(l_shipdate AS DATE)) AS first_ship,
       max(CAST(l_shipdate AS DATE)) AS last_ship
FROM lineitem
GROUP BY l_returnflag
"""


@register(
    "csv_roundtrip_agg",
    _CSV_ROUNDTRIP_ORACLE,
    doc="K1 quoted-CSV write → S3 cleansing read → agg "
    "(dags/sp500_dag.py.py:234-242, :367-376); oracle reads the original "
    "parquet so any interchange loss fails",
)
def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io.readers import read_stock_csv
    from ..io.writers import write_quoted_csv

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_quantity",
        "l_extendedprice",
        F.to_date("l_shipdate").alias("l_shipdate"),
    )
    path = temp_dir("sg_csv_") + "/lineitem_csv"
    write_quoted_csv(li, path)
    schema = T.StructType(
        [
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_shipdate", T.DateType()),
        ]
    )
    back = read_stock_csv(spark, path, schema=schema)
    return back.groupBy("l_returnflag").agg(
        F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(dec("l_extendedprice")).cast("double").alias("sum_price"),
        F.count(F.lit(1)).alias("n"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


# ---------------------------------------------------------------------------
# Custom Python Data Source (Spark 4 DataSource API): the reference's
# per-symbol REST quote fetch (S2, dags/sp500_dag.py.py:95-109)
# rebuilt as a partitioned source with real filter pushdown — the
# fetch window (:102-103) prunes generated days INSIDE the source and
# symbol predicates prune whole input partitions before they are
# scheduled (sources/quote_feed.py). The feed is a deterministic
# integer-arithmetic generator, so DuckDB reproduces every bar
# bitwise; the source machinery (schema, partition planning,
# pushFilters, per-partition iteration) is the production shape.
# ---------------------------------------------------------------------------

_QF_SYMBOLS, _QF_DAYS = 80, 45
# Query window: 2020-01-10 <= trade_date < 2020-02-01 → day offsets
# [9, 30] from the source epoch 2020-01-01.
_QUOTE_FEED_ORACLE = f"""
WITH bars AS (
    SELECT s.range AS i, d.range AS j,
           (s.range * 31 + d.range * 7) % 5000 AS base
    FROM range({_QF_SYMBOLS}) s, range(9, 31) d
),
priced AS (
    SELECT i, j,
           (1000 + base * 3) / CAST(100.0 AS DOUBLE) AS close,
           (1000 + ((base + 11) % 5000) * 3) / CAST(100.0 AS DOUBLE) AS open,
           (base % 200) / CAST(100.0 AS DOUBLE) AS spread,
           10000 + (i * 97 + j * 13) % 90000 AS volume
    FROM bars
)
SELECT 'S' || lpad(CAST(i AS VARCHAR), 4, '0') AS symbol,
       CAST(count(*) AS BIGINT) AS n_days,
       min(least(open, close) - spread) AS min_low,
       max(greatest(open, close) + spread) AS max_high,
       CAST(sum(CAST(close AS DECIMAL(18,2))) AS DOUBLE) AS sum_close,
       CAST(sum(CAST(volume AS BIGINT)) AS BIGINT) AS sum_volume
FROM priced
GROUP BY 1
"""


@register(
    "quote_feed_source_agg",
    _QUOTE_FEED_ORACLE,
    doc="custom Python Data Source scan (partitioned quote feed, S2) with "
    "date-range filter pushed INTO the source; per-symbol OHLCV aggregate "
    "over the pruned window — DuckDB regenerates the deterministic feed "
    "arithmetically (SURVEY §4.2 custom-source candidate)",
)
def q_quote_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.quote_feed import register as register_source

    register_source(spark)
    feed = (
        spark.read.format("quote_feed")
        .option("symbols", str(_QF_SYMBOLS))
        .option("days", str(_QF_DAYS))
        .option("symbols_per_partition", "20")
        # Source-level projection — the aggregate never reads
        # `open`, so the source never generates/ships it (the Python
        # DataSource API has no pruneColumns callback; the `columns`
        # option is the source's explicit-projection contract).
        .option("columns", "trade_date,symbol,high,low,close,volume")
        .load()
        .where(
            (F.col("trade_date") >= F.lit("2020-01-10").cast("date"))
            & (F.col("trade_date") < F.lit("2020-02-01").cast("date"))
        )
    )
    return feed.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.min("low").alias("min_low"),
        F.max("high").alias("max_high"),
        F.sum(F.col("close").cast("decimal(18,2)")).cast("double").alias("sum_close"),
        F.sum("volume").alias("sum_volume"),
    )


# ---------------------------------------------------------------------------
# Bucketed co-located fact-fact join: both facts written
# as hash-bucketed, per-bucket-sorted managed tables on the join key
# (io/writers.write_bucketed_table), then joined bucket-to-bucket.
# With matching bucket counts Catalyst elides BOTH exchanges — the
# plan-level guarantee is pinned in tests/test_scale_plans.py::
# test_bucketed_join_has_no_shuffle; this query adds the driver-facing
# correctness row: the oracle joins the ORIGINAL parquet, so any loss
# in the bucketed write→read cycle (hash placement, per-bucket sort,
# schema) fails parity. At 100 TB this layout turns the biggest
# recurring shuffle (fact-fact on orderkey) into a streaming
# bucket-wise merge; the merge hint keeps the sf0.01 test honest by
# blocking the broadcast fallback.
# ---------------------------------------------------------------------------

_BUCKETED_ORACLE = """
SELECT o_orderpriority,
       count(*) AS n_items,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
           AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


@register(
    "bucketed_fact_join",
    _BUCKETED_ORACLE,
    doc="co-located fact-fact join over hash-bucketed sorted tables "
    "(SURVEY §7.4 layout); zero-exchange join plan-pinned in "
    "test_scale_plans, oracle checks the bucketed write/read cycle "
    "against the original parquet",
)
def q_bucketed_fact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io.writers import write_bucketed_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    base = temp_dir("sg_bkt_")
    write_bucketed_table(
        li, "sg_bkt_lineitem", "l_orderkey", n_buckets=8, path=base + "/li"
    )
    write_bucketed_table(
        od, "sg_bkt_orders", "o_orderkey", n_buckets=8, path=base + "/od"
    )
    joined = (
        spark.table("sg_bkt_lineitem")
        .hint("merge")
        .join(
            spark.table("sg_bkt_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(dec("l_extendedprice")).cast("double").alias("revenue"),
    )


# ---------------------------------------------------------------------------
# XML round-trip: Spark 4's built-in XML source (the
# spark-xml package absorbed into spark-sql) — the remaining
# interchange format after CSV/JSONL/ORC/parquet. Write a projected
# slice as row-tagged XML, read it back schema-first, aggregate; the
# oracle runs on the ORIGINAL parquet so any loss in the XML cycle
# (escaping, numeric round-trip, null handling) fails parity. Doubles
# survive because Spark serializes them with full precision and the
# schema-first read parses them back exactly.
# ---------------------------------------------------------------------------

_XML_ORACLE = """
SELECT n_regionkey,
       count(*) AS n_nations,
       CAST(sum(n_nationkey) AS BIGINT) AS key_sum
FROM nation
GROUP BY n_regionkey
"""


@register(
    "xml_roundtrip_agg",
    _XML_ORACLE,
    doc="XML write→schema-first read→agg round-trip (SURVEY §2.1 "
    "format ext, Spark 4 built-in XML source); oracle on the original "
    "parquet so lossy cycles fail",
)
def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    na = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey", "n_name"
    )
    path = temp_dir("sg_xml_") + "/nation_xml"
    na.write.mode("overwrite").option("rowTag", "nation").format("xml").save(
        path
    )
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.LongType()),
            T.StructField("n_regionkey", T.LongType()),
            T.StructField("n_name", T.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("rowTag", "nation")
        .format("xml")
        .load(path)
    )
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.sum("n_nationkey").cast("bigint").alias("key_sum"),
    )


# ---------------------------------------------------------------------------
# Schema-evolution scan: a parquet dataset whose files
# were written under two schema versions — v1 (order day + price),
# v2 adds a discount column — read with mergeSchema, so v1 rows
# surface NULL discounts. This is the §2.1 robustness case every
# long-lived warehouse table hits; the aggregate proves both cohorts
# scan correctly (counts per cohort, discount sum only from v2). The
# oracle rebuilds the identical union from the original parquet, so a
# wrong merge (dropped column, misaligned nulls, failed upcast)
# breaks the hash. At 100 TB mergeSchema's footer-sampling cost is
# the documented trade; production tables pin the superset schema in
# the catalog instead (schema-first read path, io/readers.py).
# ---------------------------------------------------------------------------

_EVOLUTION_ORACLE = """
WITH v1 AS (
    SELECT l_orderkey, CAST(l_extendedprice AS DOUBLE) AS price,
           CAST(NULL AS DOUBLE) AS discount
    FROM lineitem WHERE l_orderkey % 2 = 0
),
v2 AS (
    SELECT l_orderkey, CAST(l_extendedprice AS DOUBLE) AS price,
           CAST(l_discount AS DOUBLE) AS discount
    FROM lineitem WHERE l_orderkey % 2 = 1
),
merged AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
SELECT (l_orderkey % 2 = 1) AS is_v2,
       count(*) AS n_rows,
       CAST(count(discount) AS BIGINT) AS n_discounted,
       CAST(sum(CAST(coalesce(discount, 0) AS DECIMAL(18,4))) AS DOUBLE)
           AS sum_discount,
       CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
FROM merged
GROUP BY 1
"""


@register(
    "schema_evolution_scan",
    _EVOLUTION_ORACLE,
    doc="mergeSchema over a two-generation parquet dataset (v2 adds a "
    "column; v1 rows surface NULLs) — §2.1 robustness; oracle rebuilds "
    "the union from the original parquet",
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    base = temp_dir("sg_evo_") + "/lineitem_evo"
    v1 = li.where(F.col("l_orderkey") % 2 == 0).select(
        "l_orderkey", F.col("l_extendedprice").cast("double").alias("price")
    )
    v2 = li.where(F.col("l_orderkey") % 2 == 1).select(
        "l_orderkey",
        F.col("l_extendedprice").cast("double").alias("price"),
        F.col("l_discount").cast("double").alias("discount"),
    )
    v1.write.mode("overwrite").parquet(base + "/gen=1")
    v2.write.mode("overwrite").parquet(base + "/gen=2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        base + "/gen=1", base + "/gen=2"
    )
    return merged.groupBy((F.col("l_orderkey") % 2 == 1).alias("is_v2")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("discount").cast("bigint").alias("n_discounted"),
        F.sum(dec(F.coalesce(F.col("discount"), F.lit(0.0))))
        .cast("double")
        .alias("sum_discount"),
        F.sum(dec("price")).cast("double").alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# Custom Python DataSource SINK round-trip: the write
# half of the §2.1/§2.2 extension-point pair — quote_feed shows a
# partitioned Python source with pushdown, jsonl_sink
# (sources/jsonl_sink.py) shows a partitioned Python WRITER with the
# two-phase commit protocol (per-task tmp files → driver rename +
# manifest-last). Write a projection of events through the sink, read
# it back schema-first, aggregate; the oracle runs on the ORIGINAL
# parquet, so any loss in task serialization, the commit rename, or
# the JSON round-trip (timestamps, doubles) fails parity.
# ---------------------------------------------------------------------------

_JSONL_SINK_ORACLE = """
SELECT event_type,
       count(*) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
GROUP BY event_type
"""


@register(
    "jsonl_sink_roundtrip_agg",
    _JSONL_SINK_ORACLE,
    doc="custom Python DataSource WRITER (jsonl_sink): per-task "
    "serialization + two-phase commit (tmp files -> rename + "
    "manifest-last); schema-first read-back aggregated against the "
    "original-table oracle (SURVEY §2.2 ext)",
)
def q_jsonl_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.jsonl_sink import register_jsonl_sink

    register_jsonl_sink(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    path = temp_dir("sg_jsink_") + "/events"
    import os

    os.makedirs(path, exist_ok=True)
    ev.write.format("jsonl_sink").option("path", path).mode(
        "overwrite"
    ).save()
    back = spark.read.schema(
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
        "event_type STRING, value DOUBLE"
    ).json(path + "/part-*.jsonl")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.sum(F.floor(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("value_cents"),
    )
