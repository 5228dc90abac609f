"""Round-6 query extensions: the as-of `nearest` direction, warehouse
upsert/latest-snapshot staples, URL canonicalization dedup, corpus
reporting (domain mix, bigram LM), integer-exact PageRank over a
deterministic in-plan link graph, the Z-order pruning demonstration
(round-5 verdict item 9), and interval-overlap aggregation.

Same contract as every other plans module: each query is registered
with a DuckDB oracle built from the SAME parameters, all terminal
columns aliased identically on both sides, arithmetic either integer
or pinned-order double so hashes match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..functions.text import (
    hash32,
    sql_hash32,
    sql_norm_text,
    sql_tokens,
    tokens,
)
from ..io.readers import load_table
from ..operators.joins import asof_join
from ..caching import track_persist
from .registry import register

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


# ---------------------------------------------------------------------------
# As-of join, direction="nearest" (completes the merge_asof family:
# backward r3, tolerance + forward r5). For each signup, the purchase
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
       strftime(b.ts, '{_TS_FMT_DUCK}') AS signup_ts,
       strftime(
           CASE WHEN f.ft IS NOT NULL AND (b.bt IS NULL
                     OR epoch_us(f.ft) - epoch_us(b.ts)
                        < epoch_us(b.ts) - epoch_us(b.bt))
                THEN f.ft ELSE b.bt END,
           '{_TS_FMT_DUCK}') AS nearest_purchase_ts
FROM b JOIN f USING (event_id)
"""


@register(
    "asof_join_nearest",
    _ASOF_NEAREST_ORACLE,
    doc="nearest as-of join (merge_asof direction=nearest; tie -> "
    "backward, exact integer-microsecond distances); one shuffle, two "
    "window fills over the same sorted partition (SURVEY §2.9 "
    "custom-op ext, r6)",
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
        F.date_format("ts", _TS_FMT_SPARK).alias("signup_ts"),
        F.date_format("matched_ts", _TS_FMT_SPARK).alias(
            "nearest_purchase_ts"
        ),
    )


# ---------------------------------------------------------------------------
# Latest-snapshot dedup — THE most common warehouse maintenance op:
# keep only the newest row per natural key from an append-only feed.
# One window over the key partitioning; at 100 TB this is the
# standard pattern for compacting CDC/event feeds into current-state
# tables (same shuffle shape as the SCD2 query, but keep-one).
# ---------------------------------------------------------------------------

_LATEST_SNAPSHOT_ORACLE = f"""
SELECT user_id, event_type,
       strftime(ts, '{_TS_FMT_DUCK}') AS latest_ts,
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
    "(ts, event_id) tiebreak (SURVEY §2.9 warehouse ext, r6)",
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
            F.date_format("ts", _TS_FMT_SPARK).alias("latest_ts"),
            "event_id",
            "value",
        )
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
    "(SURVEY §2.9 warehouse ext, r6)",
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
    "(SURVEY §2.10 profiling ext, r6)",
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
# Corpus domain-mix report — the curation dashboard number: per
# (source, lang) doc counts, char/token totals, and corpus share in
# integer ppm (total broadcast back via a 1-row cross join, never a
# window over the whole corpus). Every figure integer-exact.
# ---------------------------------------------------------------------------

_DOMAIN_MIX_ORACLE = f"""
WITH per AS (
    SELECT source, lang, count(*) AS n_docs,
           sum(n_chars) AS total_chars,
           sum(len({sql_tokens('text')})) AS total_tokens
    FROM documents GROUP BY 1, 2
),
tot AS (SELECT sum(n_docs) AS n FROM per)
SELECT per.source, per.lang, per.n_docs,
       CAST(per.total_chars AS BIGINT) AS total_chars,
       CAST(per.total_tokens AS BIGINT) AS total_tokens,
       CAST(per.n_docs * 1000000 // tot.n AS BIGINT) AS share_ppm
FROM per, tot
"""


@register(
    "corpus_domain_mix_report",
    _DOMAIN_MIX_ORACLE,
    doc="per-(source, lang) corpus mix report: doc counts, char/token "
    "totals, integer-ppm share (broadcast 1-row total, no "
    "whole-corpus window) (LLM-pipeline reporting ext, r6)",
)
def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum(F.size(tokens(F.col("text")))).cast("bigint").alias(
            "total_tokens"
        ),
    )
    tot = per.agg(F.sum("n_docs").alias("n"))
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        "n_docs",
        "total_chars",
        "total_tokens",
        F.expr("(n_docs * 1000000) div n").cast("bigint").alias("share_ppm"),
    )


# ---------------------------------------------------------------------------
# URL canonicalization + dedup — the Common-Crawl-style first dedup
# pass: normalize scheme/host case, strip www./default port/index
# suffix/trailing slash/utm_* tracking params, then keep one doc per
# canonical URL. Messy URLs are planted in-plan from (doc_id, source)
# so both engines canonicalize the identical input; every transform
# is an RE2 regex that Spark and DuckDB evaluate identically. At
# 100 TB: pure map-side rewrites + ONE groupBy on the canonical key.
# ---------------------------------------------------------------------------

_URL_SQL = """
    concat(
        CASE WHEN doc_id % 3 = 1 THEN 'HTTPS' ELSE 'https' END, '://',
        CASE WHEN doc_id % 4 = 0 THEN 'www.'
             WHEN doc_id % 4 = 1 THEN 'WWW.' ELSE '' END,
        source, '.example.org',
        CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END,
        '/p/', CAST(doc_id % 400 AS STRING),
        CASE WHEN doc_id % 6 = 0 THEN '/index.html' ELSE '' END,
        '?utm_campaign=c', CAST(doc_id % 7 AS STRING),
        '&item=', CAST(doc_id % 400 AS STRING), '&utm_source=feed')
"""

_URL_CANON_ORACLE = f"""
WITH raw AS (SELECT doc_id, {_URL_SQL} AS url FROM documents),
parts AS (
    SELECT doc_id, url,
        lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
        regexp_replace(regexp_replace(
            lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)),
            '^www\\.', ''), ':443$', '') AS host,
        regexp_replace(regexp_replace(
            regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1),
            '/index\\.html$', ''), '/+$', '') AS path,
        regexp_replace(regexp_replace(
            regexp_extract(url, '\\?([^#]*)', 1),
            '(^|&)utm_[^&]*', '', 'g'), '^&', '') AS q
    FROM raw
),
canon AS (
    SELECT doc_id,
           concat(scheme, '://', host, path,
                  CASE WHEN q <> '' THEN concat('?', q) ELSE '' END)
               AS canonical_url
    FROM parts
)
SELECT canonical_url, count(*) AS n_variants,
       min(doc_id) AS keeper_doc_id
FROM canon GROUP BY 1
"""


@register(
    "corpus_url_canonical_dedup",
    _URL_CANON_ORACLE,
    doc="URL canonicalization (lowercase scheme/host, strip www. / "
    ":443 / index.html / trailing slash / utm_* params) + keep-min "
    "dedup per canonical key; map-side RE2 rewrites, one groupBy "
    "(LLM-pipeline ext, r6)",
)
def q_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    url = F.expr(_URL_SQL)
    raw = docs.withColumn("url", url)
    scheme = F.lower(F.regexp_extract("url", r"^([A-Za-z]+)://", 1))
    host = F.regexp_replace(
        F.regexp_replace(
            F.lower(F.regexp_extract("url", r"^[A-Za-z]+://([^/?#]+)", 1)),
            r"^www\.",
            "",
        ),
        r":443$",
        "",
    )
    path = F.regexp_replace(
        F.regexp_replace(
            F.regexp_extract("url", r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1),
            r"/index\.html$",
            "",
        ),
        r"/+$",
        "",
    )
    q = F.regexp_replace(
        F.regexp_replace(
            F.regexp_extract("url", r"\?([^#]*)", 1), r"(^|&)utm_[^&]*", ""
        ),
        r"^&",
        "",
    )
    canonical = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit("")),
    )
    return (
        raw.select("doc_id", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.min("doc_id").alias("keeper_doc_id"),
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
    "(SURVEY §2.9 interval ext, r6)",
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
# Bigram language-model counts — the n-gram LM building block: map-
# side bigram expansion (transform over the token array, no
# self-join), count per (w1, w2), integer-ppm conditional probability
# against the w1 total, top-3 continuations per w1. At 100 TB this is
# one shuffle on the bigram and one on w1 — the classic two-pass LM
# count job.
# ---------------------------------------------------------------------------

_LM_MIN_TOTAL = 50

_BIGRAM_ORACLE = f"""
WITH tokd AS (
    SELECT doc_id, {sql_tokens('text')} AS toks FROM documents
),
bg AS (
    SELECT unnest(list_transform(
               generate_series(1, len(toks) - 1),
               i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS s
    FROM tokd WHERE len(toks) >= 2
),
pairs AS (
    SELECT s.w1 AS w1, s.w2 AS w2, count(*) AS c
    FROM bg GROUP BY 1, 2
),
tot AS (
    SELECT w1, sum(c) AS total FROM pairs GROUP BY 1
),
ranked AS (
    SELECT p.w1, p.w2, p.c, t.total,
           row_number() OVER (
               PARTITION BY p.w1 ORDER BY p.c DESC, p.w2) AS rnk
    FROM pairs p JOIN tot t USING (w1)
    WHERE t.total >= {_LM_MIN_TOTAL}
)
SELECT w1, w2, CAST(c AS BIGINT) AS c,
       CAST(total AS BIGINT) AS w1_total,
       CAST(c * 1000000 // total AS BIGINT) AS prob_ppm,
       CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= 3
"""


def _bigrams(tokd: DataFrame, *keep: str) -> DataFrame:
    """(*keep, w1, w2): one row per adjacent pair of each ``toks``
    array, expanded map-side; arrays under two tokens drop out."""
    return (
        tokd.where(F.size("toks") >= 2)
        .select(
            *keep,
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 2), "
                    "i -> struct(toks[i] AS w1, toks[i + 1] AS w2))"
                )
            ).alias("s"),
        )
        .select(*keep, "s.w1", "s.w2")
    )


def _bigram_model(bg: DataFrame) -> DataFrame:
    """(w1, w2, c, total, ppm): count per bigram, count per w1, and
    the integer-ppm conditional probability c * 1e6 div total."""
    pairs = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    tot = pairs.groupBy("w1").agg(F.sum("c").alias("total"))
    return pairs.join(tot, "w1").withColumn(
        "ppm", F.expr("c * 1000000 div total").cast("bigint")
    )


@register(
    "corpus_bigram_lm",
    _BIGRAM_ORACLE,
    doc="bigram LM counts: map-side bigram expansion, (w1,w2) count + "
    "w1 totals, integer-ppm conditional probability, top-3 "
    "continuations per w1 (LLM-pipeline ext, r6)",
)
def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("text")
    bg = _bigrams(docs.select(tokens(F.col("text")).alias("toks")))
    w = Window.partitionBy("w1").orderBy(F.col("c").desc(), F.col("w2"))
    return (
        _bigram_model(bg)
        .where(F.col("total") >= _LM_MIN_TOTAL)
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            "w1",
            "w2",
            F.col("c").cast("bigint").alias("c"),
            F.col("total").cast("bigint").alias("w1_total"),
            F.col("ppm").alias("prob_ppm"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# Z-order pruning DEMONSTRATION (round-5 verdict item 9: make
# zorder_layout_stats' claim quantitative). Same rows laid out two
# ways — Morton-key buckets vs single-column (pa) range buckets, 64
# buckets each — then two range predicates evaluated against each
# bucket's min/max footer stats, exactly the way parquet row-group
# skipping works. The demo emits, per (layout, predicate): buckets
# scanned and rows read. Z-order prunes on BOTH dimensions (the
# sb-only predicate still skips ~3/4 of buckets); the pa-sorted
# layout cannot prune an sb predicate at all — that asymmetry is the
# whole argument for multi-column clustering at 100 TB.
# ---------------------------------------------------------------------------

from .queries_extensions import _z_spark, _z_sql  # noqa: E402

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
    "layout ext, r6)",
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
# PageRank, integer-scaled (3 fixed iterations, d = 0.85 as 85/100
# integer arithmetic) — the link-graph quality signal every web-corpus
# curation pipeline computes. All math is bigint (per-edge
# floor-divided contributions, bigint sums), so the result is exact
# and order-independent in BOTH engines — no float-summation
# divergence, and the oracle is the same three iterations unrolled as
# CTE stages. The link graph is built in-plan from hash32(doc_id)
# (test-data scaffolding; at 100 TB the edges arrive as a table and
# the per-iteration plan — join on u, groupBy v, one bigint sum — is
# unchanged). Dangling mass is dropped, not redistributed
# (documented; same in the oracle). doc_id is contiguous 0..N-1 in
# the testdata, which the hash-mod target construction relies on.
# ---------------------------------------------------------------------------

_PR_SCALE = 1_000_000_000_000
_PR_BASE = 150_000_000_000  # (1 - 0.85) * SCALE
_PR_ITERS = 3
_PR_FANOUT = 3


def _pagerank_sql() -> str:
    hashes = ", ".join(
        f"{sql_hash32('CAST(doc_id AS STRING)', f'pr{k}')} AS h{k}"
        for k in range(_PR_FANOUT)
    )
    targets = "\n    UNION ALL\n".join(
        f"    SELECT u, h{k} % n AS v FROM hashed"
        for k in range(_PR_FANOUT)
    )
    stages = [f"s0 AS (SELECT doc_id, CAST({_PR_SCALE} AS BIGINT) AS score FROM nodes)"]
    for i in range(_PR_ITERS):
        stages.append(
            f"""s{i + 1} AS (
    SELECT nodes.doc_id,
           CAST({_PR_BASE} + coalesce(c.s, 0) AS BIGINT) AS score
    FROM nodes LEFT JOIN (
        SELECT e.v AS doc_id,
               sum((s.score * 85) // (100 * d.deg)) AS s
        FROM edges e
        JOIN s{i} s ON s.doc_id = e.u
        JOIN deg d ON d.u = e.u
        GROUP BY e.v
    ) c USING (doc_id))"""
        )
    return f"""
WITH nn AS (SELECT count(*) AS n FROM documents),
nodes AS (SELECT doc_id FROM documents),
hashed AS (
    SELECT doc_id AS u, n, {hashes} FROM documents CROSS JOIN nn
),
edges AS (
    SELECT DISTINCT u, v FROM (
{targets}
    ) WHERE u <> v
),
deg AS (SELECT u, count(*) AS deg FROM edges GROUP BY u),
{",".join(stages)}
SELECT doc_id, score AS pr_scaled FROM s{_PR_ITERS}
"""


_PAGERANK_ORACLE = _pagerank_sql()


@register(
    "corpus_pagerank",
    _PAGERANK_ORACLE,
    doc="integer-exact PageRank (3 iterations, d=85/100, bigint "
    "floor-div contributions — no float-sum divergence): per "
    "iteration one join on u + one groupBy v; oracle is the same "
    "iterations unrolled as CTEs (LLM-pipeline graph ext, r6)",
)
def q_corpus_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return pagerank_scores(docs)


def pagerank_scores(docs: DataFrame) -> DataFrame:
    """PageRank core over a node frame (doc_id assumed 0..N-1 for the
    hash-target graph construction — testdata scaffolding; a real
    edge table slots in at `edges`). Any node set runs the same plan;
    the 10x node-set wall is in BASELINE.md §8 "PageRank at 10×"."""
    nn = docs.agg(F.count(F.lit(1)).alias("n"))
    hashed = docs.crossJoin(F.broadcast(nn)).select(
        F.col("doc_id").alias("u"),
        *[
            (
                hash32(F.col("doc_id").cast("string"), f"pr{k}")
                % F.col("n")
            ).alias(f"h{k}")
            for k in range(_PR_FANOUT)
        ],
    )
    edges = None
    for k in range(_PR_FANOUT):
        part = hashed.select("u", F.col(f"h{k}").alias("v"))
        edges = part if edges is None else edges.unionByName(part)
    # Loop-invariant inputs are cached (same policy as connected
    # components' symmetric edge frame): without this every iteration
    # re-scans and re-dedups the edge list — the audited plan showed
    # 21 scans / 114 exchanges for 3 iterations, vs 3 edge reads here.
    edges = track_persist(
        edges.where(F.col("u") != F.col("v")).distinct()
    )
    deg = track_persist(
        edges.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    )
    nodes = docs
    scores = nodes.select(
        "doc_id", F.lit(_PR_SCALE).cast("bigint").alias("score")
    )
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(scores, edges.u == scores.doc_id)
            .join(deg, "u")
            .select(
                F.col("v").alias("doc_id"),
                F.expr("(score * 85) div (100 * deg)").alias("c"),
            )
            .groupBy("doc_id")
            .agg(F.sum("c").alias("s"))
        )
        scores = nodes.join(contrib, "doc_id", "left").select(
            "doc_id",
            (F.lit(_PR_BASE) + F.coalesce(F.col("s"), F.lit(0)))
            .cast("bigint")
            .alias("score"),
        )
    return scores.select("doc_id", F.col("score").alias("pr_scaled"))


# ---------------------------------------------------------------------------
# BPE encode (apply) — closes the tokenizer loop opened by
# corpus_bpe_merges (train). Encodes the corpus with a PRETRAINED
# 8-merge table (the tokenizer-shipping pattern: train once offline,
# apply everywhere) — learned once from the sf0.001 documents corpus
# by bpe_learn_merges and baked as a literal. With the merge table
# fixed, the k fold replays are deterministic SQL (r6 verdict nit 1):
# the oracle replays the SAME merges as k composed CTE stages, each a
# DuckDB list_reduce implementing the identical greedy left-to-right
# fold, so the query is fully hash-checkable. Train-then-encode
# round-tripping stays exact vs the sequential reference in
# tests/test_bpe_merges.py (which also pins this fixed table's
# provenance).
# ---------------------------------------------------------------------------

# Learned from sf0.001 documents (k=8, 2026-08-14); merge 7 composes
# merge 6's output ('p' + 'ar'), exercising multi-char symbols.
BPE_PRETRAINED_MERGES: tuple[tuple[str, str], ...] = (
    ("e", "r"),
    ("o", "r"),
    ("i", "n"),
    ("o", "w"),
    ("s", "t"),
    ("l", "u"),
    ("a", "r"),
    ("p", "ar"),
)


def _sql_bpe_fold(list_expr: str, left: str, right: str) -> str:
    """One greedy merge replay as a DuckDB list_reduce over a symbol
    list, returning the chr(31)-joined symbol string. Same semantics
    as the Catalyst fold in operators/text_analysis.py::bpe_encode:
    merge when the accumulated string's LAST SYMBOL equals `left`
    (suffix check anchored on the separator) and the next symbol
    equals `right`."""
    le = left.replace("'", "''")
    ri = right.replace("'", "''")
    return (
        f"list_reduce({list_expr}, (acc, s) -> "
        f"CASE WHEN (acc = '{le}' OR ends_with(acc, chr(31) || '{le}')) "
        f"AND s = '{ri}' THEN acc || '{ri}' "
        f"ELSE acc || chr(31) || s END)"
    )


def _bpe_encode_oracle() -> str:
    stages = []
    prev = "syms"
    for i, (le, ri) in enumerate(BPE_PRETRAINED_MERGES):
        src = prev if i == 0 else f"string_split({prev}, chr(31))"
        stages.append(
            f"e{i} AS (SELECT w, {_sql_bpe_fold(src, le, ri)} AS enc{i} "
            f"FROM e{i - 1 if i else 'base'})"
        )
        prev = f"enc{i}"
    last = len(BPE_PRETRAINED_MERGES) - 1
    stage_sql = ",\n".join(stages)
    return f"""
WITH tok AS (
    SELECT doc_id,
           unnest(list_transform(
               generate_series(1, len(toks)),
               i -> struct_pack(pos := i, w := toks[i]))) AS e
    FROM (SELECT doc_id, {sql_tokens('text')} AS toks FROM documents)
),
t2 AS (SELECT doc_id, e.pos AS pos, e.w AS w FROM tok WHERE length(e.w) > 0),
ebase AS (
    SELECT w, list_transform(generate_series(1, length(w)), i -> w[i]) AS syms
    FROM (SELECT DISTINCT w FROM t2)
),
{stage_sql},
encw AS (
    SELECT w, enc{last} AS enc,
           len(string_split(enc{last}, chr(31))) AS n_syms
    FROM e{last}
),
agg AS (
    SELECT t2.doc_id,
           count(*) AS n_tokens,
           sum(n_syms) AS n_symbols,
           md5(string_agg(enc, chr(31) ORDER BY pos)) AS sym_fp
    FROM t2 JOIN encw USING (w)
    GROUP BY t2.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(a.n_tokens, 0) AS INT) AS n_tokens,
       CAST(coalesce(a.n_symbols, 0) AS INT) AS n_symbols,
       coalesce(a.sym_fp, md5('')) AS sym_fp
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


@register(
    "corpus_bpe_encode",
    _bpe_encode_oracle(),
    doc="BPE apply with a pretrained 8-merge table (literal; learned "
    "offline from sf0.001 docs — the train-once/apply-everywhere "
    "tokenizer pattern): vocabulary-level fold replay, zero shuffles "
    "in the encode path; oracle replays the same merges as 8 "
    "composed list_reduce CTE stages (LLM-pipeline tokenizer ext, "
    "r6; oracle upgraded r7)",
)
def q_corpus_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text_analysis as TA

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return TA.bpe_encode(docs, list(BPE_PRETRAINED_MERGES), "text")


# ---------------------------------------------------------------------------
# Product quantization — the storage tier below int8 quantization:
# m=4 codebooks of k=8 centroids over 16-dim subspaces → 12 bits per
# vector. Training = 4 small deterministic Lloyd's jobs; encoding =
# one scan with literal-centroid argmins (no joins). Iterative +
# collect-based like k-means → rows-only; invariants in
# tests/test_clustering.py.
# ---------------------------------------------------------------------------


@register(
    "embedding_pq_codebooks",
    None,  # iterative kmeans-family: rows-only + invariant pytest
    doc="product quantization (4x16-dim subspaces, 8 centroids each): "
    "deterministic per-subspace Lloyd's + single-scan literal-centroid "
    "encode; codes+recon error per vector (ANN storage ext, r6)",
)
def q_embedding_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import pq_codebooks_encode

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_codebooks_encode(emb)


# ---------------------------------------------------------------------------
# LM-based quality scoring — the model-based filtering step (CCNet /
# Gopher style: score each document under a language model, bucket,
# keep the fluent tiers). The "model" is the corpus's own bigram
# table (self-scoring device at test scale; in production the counts
# come from a reference corpus and arrive as a join input — the plan
# is identical). Scoring is log-free integer arithmetic: a doc's
# score is the integer MEAN of its bigrams' conditional
# probabilities in ppm — a monotone fluency proxy with none of the
# libm (ln/exp) cross-engine parity risk perplexity would carry.
# Tiers = ntile(4) over the deterministic (score, doc_id) order.
# ---------------------------------------------------------------------------

_LM_SCORE_ORACLE = f"""
WITH tokd AS (
    SELECT doc_id, {sql_tokens('text')} AS toks FROM documents
),
bg AS (
    SELECT doc_id,
           unnest(list_transform(
               generate_series(1, len(toks) - 1),
               i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS s
    FROM tokd WHERE len(toks) >= 2
),
docbg AS (SELECT doc_id, s.w1 AS w1, s.w2 AS w2 FROM bg),
pairs AS (
    SELECT w1, w2, count(*) AS c FROM docbg GROUP BY 1, 2
),
tot AS (SELECT w1, sum(c) AS total FROM pairs GROUP BY 1),
model AS (
    SELECT p.w1, p.w2, CAST(p.c * 1000000 // t.total AS BIGINT) AS ppm
    FROM pairs p JOIN tot t USING (w1)
),
scored AS (
    SELECT d.doc_id, count(*) AS n_bigrams,
           CAST(sum(m.ppm) // count(*) AS BIGINT) AS score_ppm
    FROM docbg d JOIN model m USING (w1, w2)
    GROUP BY d.doc_id
)
SELECT t.doc_id,
       CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(coalesce(s.score_ppm, 0) AS BIGINT) AS score_ppm,
       CAST(ntile(4) OVER (
           ORDER BY coalesce(s.score_ppm, 0), t.doc_id) AS BIGINT)
           AS quality_tier
FROM tokd t LEFT JOIN scored s USING (doc_id)
"""


@register(
    "corpus_lm_quality_score",
    _LM_SCORE_ORACLE,
    doc="LM-based quality filter (CCNet-style): score each doc by the "
    "integer-ppm mean of its bigrams' conditional probabilities "
    "(log-free fluency proxy, no libm parity risk), quartile tiers "
    "over the deterministic order (LLM-pipeline ext, r6)",
)
def q_lm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tokd = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    # Read twice: model build + scoring.
    docbg = track_persist(_bigrams(tokd, "doc_id"))
    scored = (
        docbg.join(_bigram_model(docbg), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.expr("sum(ppm) div count(1)").cast("bigint").alias("score_ppm"),
        )
    )
    # Tiering WITHOUT the single-task global ntile window: exact
    # global rank via range-sort + broadcast partition offsets
    # (operators/window_metrics.with_global_rank), then the bit-exact
    # ntile(4) bucket formula from the broadcast total count. Left
    # side is the raw doc-id frame, NOT tokd: the final join only
    # needs which docs exist, and joining through tokd re-tokenizes
    # every document a second time for nothing.
    from ..operators.window_metrics import ntile_from_rank, with_global_rank

    base = docs.select("doc_id").join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
        F.coalesce("score_ppm", F.lit(0)).cast("bigint").alias("score_ppm"),
    )
    ranked = with_global_rank(base, ["score_ppm", "doc_id"])
    total = ranked.agg(F.count(F.lit(1)).cast("long").alias("__total__"))
    return ranked.join(F.broadcast(total)).select(
        "doc_id",
        "n_bigrams",
        "score_ppm",
        ntile_from_rank(F.col("global_rank"), F.col("__total__"), 4)
        .cast("bigint")
        .alias("quality_tier"),
    )


# ---------------------------------------------------------------------------
# Curation capstone v2 — composes the round-6 operators into one lazy
# plan, the way a production crawl-refresh job would run them:
# (1) canonical-URL dedup (keep the min doc per canonical key),
# (2) LM-quality scoring over the SURVIVORS (bigram integer-ppm mean,
#     built from the survivors themselves), drop the bottom quartile,
# (3) deterministic exact-K per-(source, lang) rebalance (hash-rank
#     window, same policy as corpus_reservoir_sample).
# Every stage is a shuffle on a real key (canonical URL, bigram, w1,
# stratum) — no all-pairs, no collects; the oracle composes the same
# three stages as CTEs, so the integration — not just each operator —
# is hash-checked.
# ---------------------------------------------------------------------------

_V2_KEEP_PER_STRATUM = 15

_CURATION_V2_ORACLE = f"""
WITH raw AS (
    SELECT doc_id, lang, source, text, {_URL_SQL} AS url FROM documents
),
canon AS (
    SELECT doc_id, lang, source, text,
           concat(
               lower(regexp_extract(url, '^([A-Za-z]+)://', 1)), '://',
               regexp_replace(regexp_replace(
                   lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)),
                   '^www\\.', ''), ':443$', ''),
               regexp_replace(regexp_replace(
                   regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1),
                   '/index\\.html$', ''), '/+$', '')) AS ckey
    FROM raw
),
survivors AS (
    SELECT doc_id, lang, source, text FROM (
        SELECT *, row_number() OVER (
            PARTITION BY ckey ORDER BY doc_id) AS rn
        FROM canon
    ) WHERE rn = 1
),
tokd AS (
    SELECT doc_id, lang, source, {sql_tokens('text')} AS toks FROM survivors
),
bg AS (
    SELECT doc_id,
           unnest(list_transform(
               generate_series(1, len(toks) - 1),
               i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS s
    FROM tokd WHERE len(toks) >= 2
),
docbg AS (SELECT doc_id, s.w1 AS w1, s.w2 AS w2 FROM bg),
pairs AS (SELECT w1, w2, count(*) AS c FROM docbg GROUP BY 1, 2),
tot AS (SELECT w1, sum(c) AS total FROM pairs GROUP BY 1),
model AS (
    SELECT p.w1, p.w2, CAST(p.c * 1000000 // t.total AS BIGINT) AS ppm
    FROM pairs p JOIN tot t USING (w1)
),
scored AS (
    SELECT d.doc_id, CAST(sum(m.ppm) // count(*) AS BIGINT) AS score_ppm
    FROM docbg d JOIN model m USING (w1, w2) GROUP BY d.doc_id
),
tiered AS (
    SELECT t.doc_id, t.lang, t.source,
           coalesce(s.score_ppm, 0) AS score_ppm,
           ntile(4) OVER (ORDER BY coalesce(s.score_ppm, 0), t.doc_id)
               AS tier
    FROM tokd t LEFT JOIN scored s USING (doc_id)
),
kept AS (SELECT * FROM tiered WHERE tier >= 2),
ranked AS (
    SELECT doc_id, lang, source, score_ppm,
           row_number() OVER (
               PARTITION BY source, lang
               ORDER BY {sql_hash32("CAST(doc_id AS VARCHAR)", "cur2")},
                        doc_id) AS rnk
    FROM kept
)
SELECT doc_id, lang, source, CAST(score_ppm AS BIGINT) AS score_ppm,
       CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= {_V2_KEEP_PER_STRATUM}
"""


@register(
    "corpus_curation_v2",
    _CURATION_V2_ORACLE,
    doc="round-6 capstone: canonical-URL dedup -> self-trained LM "
    "quality tiering (drop bottom quartile) -> deterministic exact-K "
    "per-(source, lang) rebalance, one lazy plan; composed-CTE oracle "
    "hash-checks the integration (LLM-pipeline capstone, r6)",
)
def q_corpus_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    url = F.expr(_URL_SQL)
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z]+)://", 1))
    host = F.regexp_replace(
        F.regexp_replace(
            F.lower(F.regexp_extract(url, r"^[A-Za-z]+://([^/?#]+)", 1)),
            r"^www\.",
            "",
        ),
        r":443$",
        "",
    )
    path = F.regexp_replace(
        F.regexp_replace(
            F.regexp_extract(url, r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1),
            r"/index\.html$",
            "",
        ),
        r"/+$",
        "",
    )
    ckey = F.concat(scheme, F.lit("://"), host, path)
    wdedup = Window.partitionBy("ckey").orderBy("doc_id")
    survivors = (
        docs.withColumn("ckey", ckey)
        .withColumn("rn", F.row_number().over(wdedup))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", "source", "text")
    )

    toks = tokens(F.col("text"))
    tokd = survivors.select("doc_id", "lang", "source", toks.alias("toks"))
    docbg = track_persist(_bigrams(tokd, "doc_id"))
    scored = (
        docbg.join(_bigram_model(docbg), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(F.expr("sum(ppm) div count(1)").cast("bigint").alias("score_ppm"))
    )
    # Join through the survivor id/stratum columns, not tokd — avoids
    # re-tokenizing every survivor just to carry (lang, source); and
    # tier via the distributed global-rank ntile, not the single-task
    # unpartitioned window (see corpus_lm_quality_score).
    from ..operators.window_metrics import ntile_from_rank, with_global_rank

    scored_docs = survivors.select("doc_id", "lang", "source").join(
        scored, "doc_id", "left"
    ).select(
        "doc_id",
        "lang",
        "source",
        F.coalesce("score_ppm", F.lit(0)).cast("bigint").alias("score_ppm"),
    )
    ranked = with_global_rank(scored_docs, ["score_ppm", "doc_id"])
    total = ranked.agg(F.count(F.lit(1)).cast("long").alias("__total__"))
    tiered = ranked.join(F.broadcast(total)).select(
        "doc_id",
        "lang",
        "source",
        "score_ppm",
        ntile_from_rank(F.col("global_rank"), F.col("__total__"), 4).alias(
            "tier"
        ),
    )
    kept = tiered.where(F.col("tier") >= 2)
    wr = Window.partitionBy("source", "lang").orderBy(
        hash32(F.col("doc_id").cast("string"), "cur2"), "doc_id"
    )
    return (
        kept.withColumn("rnk", F.row_number().over(wr))
        .where(F.col("rnk") <= _V2_KEEP_PER_STRATUM)
        .select(
            "doc_id",
            "lang",
            "source",
            "score_ppm",
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# Quality-aware dedup selection — every dedup query so far keeps the
# MIN-ID member per duplicate cluster; production pipelines keep the
# CLEANEST (C4/RefinedWeb keep-best policy). Planted variants: every
# 4th doc gets a whitespace-bloated copy (+21M) and every 8th an
# uppercased copy (+22M); normalization maps all three to one
# fingerprint cluster, and the keeper is chosen by LEAST JUNK
# (raw_len - normalized_len; the uppercase copy ties the original at
# 0 junk and loses on doc_id) — a policy the min-id rule gets wrong
# whenever the bloated copy has the lowest id. For near-dup clusters
# the same keep-best select runs on connected_components output
# instead of the fingerprint partition; the policy column is what
# this query pins.
# ---------------------------------------------------------------------------

_KB_OFFSET_WS, _KB_OFFSET_UC = 21_000_000, 22_000_000

_KEEP_BEST_ORACLE = f"""
WITH base AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {_KB_OFFSET_WS} AS doc_id,
           replace(text, ' ', '   ') AS text
    FROM documents WHERE doc_id % 4 = 0
    UNION ALL
    SELECT doc_id + {_KB_OFFSET_UC} AS doc_id, upper(text) AS text
    FROM documents WHERE doc_id % 8 = 0
),
fp AS (
    SELECT doc_id, md5({sql_norm_text('text')}) AS f,
           CAST(len(text) - len({sql_norm_text('text')}) AS BIGINT) AS junk
    FROM base
),
ranked AS (
    SELECT doc_id, f, junk,
           count(*) OVER (PARTITION BY f) AS n_members,
           min(doc_id) OVER (PARTITION BY f) AS cluster_id,
           row_number() OVER (
               PARTITION BY f ORDER BY junk, doc_id) AS rn
    FROM fp
)
SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
       doc_id AS keeper_doc_id,
       CAST(n_members AS BIGINT) AS n_members,
       junk AS keeper_junk
FROM ranked WHERE rn = 1 AND n_members >= 2
"""


@register(
    "dedup_keep_best_quality",
    _KEEP_BEST_ORACLE,
    doc="quality-aware dedup selection (keep the CLEANEST cluster "
    "member by junk = raw_len - normalized_len, not the min id); "
    "planted whitespace-bloated and uppercased variants; one window "
    "over the cluster partition (LLM-pipeline policy ext, r6)",
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import norm_text

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ws = docs.where(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + _KB_OFFSET_WS).alias("doc_id"),
        F.regexp_replace("text", " ", "   ").alias("text"),
    )
    uc = docs.where(F.col("doc_id") % 8 == 0).select(
        (F.col("doc_id") + _KB_OFFSET_UC).alias("doc_id"),
        F.upper(F.col("text")).alias("text"),
    )
    base = docs.unionByName(ws).unionByName(uc)
    normed = norm_text(F.col("text"))
    fp = base.select(
        "doc_id",
        F.md5(normed).alias("f"),
        (F.length("text") - F.length(normed)).cast("bigint").alias("junk"),
    )
    wc = Window.partitionBy("f")
    wr = Window.partitionBy("f").orderBy("junk", "doc_id")
    return (
        fp.withColumn("n_members", F.count(F.lit(1)).over(wc))
        .withColumn("cluster_id", F.min("doc_id").over(wc))
        .withColumn("rn", F.row_number().over(wr))
        .where((F.col("rn") == 1) & (F.col("n_members") >= 2))
        .select(
            F.col("cluster_id").cast("bigint").alias("cluster_id"),
            F.col("doc_id").alias("keeper_doc_id"),
            F.col("n_members").cast("bigint").alias("n_members"),
            F.col("junk").alias("keeper_junk"),
        )
    )


# ---------------------------------------------------------------------------
# Token-budget fill per stratum — the mix-building step that runs
# AFTER quality filtering: each language gets a fixed token budget,
# filled greedily in quality order (longest-doc-first proxy here;
# any score column slots in) until the budget is exhausted. One
# PARTITIONED cumulative-sum window (per-lang — never the global
# single-task shape §12.2 closed); a doc is kept iff it STARTS within
# budget, so exactly one doc may straddle the boundary — the
# deterministic greedy-fill rule. Integer token counts throughout.
# ---------------------------------------------------------------------------

_BUDGET_TOKENS = 10_000

_BUDGET_FILL_ORACLE = f"""
WITH tokd AS (
    SELECT doc_id, lang,
           CAST(len({sql_tokens('text')}) AS BIGINT) AS n_tokens
    FROM documents
),
cum AS (
    SELECT doc_id, lang, n_tokens,
           sum(n_tokens) OVER (
               PARTITION BY lang
               ORDER BY n_tokens DESC, doc_id
               ROWS UNBOUNDED PRECEDING) - n_tokens AS cum_before
    FROM tokd
)
SELECT doc_id, lang, n_tokens, CAST(cum_before AS BIGINT) AS cum_before
FROM cum WHERE cum_before < {_BUDGET_TOKENS}
"""


@register(
    "corpus_budget_fill",
    _BUDGET_FILL_ORACLE,
    doc="per-language token-budget fill (greedy by quality order, one "
    "partitioned cumsum window — never the global single-task shape); "
    "keep iff the doc STARTS within budget (LLM-pipeline mix ext, r6)",
)
def q_corpus_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    tokd = docs.select(
        "doc_id",
        "lang",
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("n_tokens").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tokd.withColumn(
            "cum_before", F.sum("n_tokens").over(w) - F.col("n_tokens")
        )
        .where(F.col("cum_before") < _BUDGET_TOKENS)
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.col("cum_before").cast("bigint").alias("cum_before"),
        )
    )


# ---------------------------------------------------------------------------
# Linear-interpolation gap fill (round-6 ext) — completes the
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
    "completes the imputation family (SURVEY §2.5 ext, r6). "
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
# Decontamination by OVERLAP FRACTION (round-6 ext) — the published
# threshold rule (GPT-3 appendix C / common n-gram decontamination):
# a training doc is dropped only when the FRACTION of its n-grams
# shared with the eval set crosses a threshold, not on any single
# hit (the binary-hit variants are corpus_decontamination and its
# Bloom-prefiltered twin; this adds the per-doc denominator and the
# keep/drop verdict). Same planted-contamination setup; all shares in
# integer basis points so the verdict is exact in both engines. The
# eval-gram set broadcasts; the per-doc denominator is a map-side
# distinct inside the same shingle pass — no extra corpus shuffle.
# ---------------------------------------------------------------------------

_OVERLAP_NGRAM = 8
_OVERLAP_DROP_BP = 1000  # drop if > 10% of the doc's grams are shared

from ..functions.text import sql_word_shingles

_OVERLAP_SHINGLES = sql_word_shingles("toks", 8)

_DECON_OVERLAP_ORACLE = f"""
WITH eval_docs AS (
    SELECT doc_id, {sql_tokens('text')} AS toks FROM documents
    WHERE doc_id % 50 = 0
),
eval_grams AS (
    SELECT DISTINCT unnest({_OVERLAP_SHINGLES}) AS gram FROM eval_docs
),
train_raw AS (
    SELECT t.doc_id,
           t.text || CASE WHEN t.doc_id % 9 = 0 AND e.doc_id IS NOT NULL
                          THEN ' ' || array_to_string(list_slice(e.toks, 1, 12), ' ')
                          ELSE '' END AS text
    FROM documents t
    LEFT JOIN eval_docs e ON e.doc_id = (t.doc_id % 10) * 50
    WHERE t.doc_id % 50 <> 0
),
train AS (
    SELECT doc_id, unnest({_OVERLAP_SHINGLES}) AS gram
    FROM (SELECT doc_id, {sql_tokens('text')} AS toks FROM train_raw) t
),
per_doc AS (
    SELECT tr.doc_id,
           count(DISTINCT tr.gram) AS n_grams,
           count(DISTINCT CASE WHEN e.gram IS NOT NULL THEN tr.gram END)
               AS n_shared
    FROM train tr LEFT JOIN eval_grams e ON tr.gram = e.gram
    GROUP BY tr.doc_id
)
SELECT doc_id,
       CAST(n_grams AS BIGINT) AS n_grams,
       CAST(n_shared AS BIGINT) AS n_shared,
       CAST(n_shared * 10000 // greatest(n_grams, 1) AS BIGINT)
           AS overlap_bp,
       (n_shared * 10000 // greatest(n_grams, 1)) > {_OVERLAP_DROP_BP}
           AS drop_doc
FROM per_doc
"""


@register(
    "corpus_decontamination_overlap",
    _DECON_OVERLAP_ORACLE,
    doc="decontamination by overlap FRACTION (GPT-3-style threshold "
    "rule): per-doc distinct-gram denominator + shared-gram count in "
    "one shingle pass, integer basis points, keep/drop verdict "
    "(LLM-pipeline ext, r6)",
)
def q_decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as D

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    eval_side = docs.where(F.col("doc_id") % 50 == 0)
    eval_docs = eval_side.select(
        F.col("doc_id").alias("eval_id"), tokens(F.col("text")).alias("toks")
    )
    eval_grams = (
        D.with_shingles(eval_side, "doc_id", "text", _OVERLAP_NGRAM)
        .select(F.explode("shingles").alias("gram"))
        .distinct()
        .withColumn("__hit__", F.lit(1))
    )
    leak = F.when(
        (F.col("doc_id") % 9 == 0) & F.col("eval_id").isNotNull(),
        F.concat(F.lit(" "), F.array_join(F.slice("toks", 1, 12), " ")),
    ).otherwise(F.lit(""))
    train_raw = (
        docs.where(F.col("doc_id") % 50 != 0)
        .join(
            F.broadcast(eval_docs),
            (F.col("doc_id") % 10) * 50 == F.col("eval_id"),
            "left",
        )
        .select("doc_id", F.concat("text", leak).alias("text"))
    )
    train = D.with_shingles(
        train_raw, "doc_id", "text", _OVERLAP_NGRAM
    ).select("doc_id", F.explode("shingles").alias("gram"))
    per_doc = (
        train.join(F.broadcast(eval_grams), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gram").alias("n_grams"),
            F.countDistinct(
                F.when(F.col("__hit__").isNotNull(), F.col("gram"))
            ).alias("n_shared"),
        )
    )
    bp = F.expr("n_shared * 10000 div greatest(n_grams, 1)")
    return per_doc.select(
        "doc_id",
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.col("n_shared").cast("bigint").alias("n_shared"),
        bp.cast("bigint").alias("overlap_bp"),
        (bp > _OVERLAP_DROP_BP).alias("drop_doc"),
    )



# ---------------------------------------------------------------------------
# Equi-DEPTH histogram (round-6 ext): the profiling twin of
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
    "layout with no single-task window (SURVEY §2.10 profiling ext, "
    "r6)",
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
