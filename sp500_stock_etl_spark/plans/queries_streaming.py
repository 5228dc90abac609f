"""Streaming queries wired into the driver contract (SURVEY.md §2.11
mapping + §7.1 step 5).

The reference's "incremental" semantics are a daily Airflow rerun
(dags/sp500_dag.py.py:324) — here each query runs a real Structured
Streaming job with ``trigger(availableNow=True)`` over a staged
landing directory and returns the (batch-queryable) result table:

- tumbling window counts: COMPLETE output mode, so the emitted result
  equals the batch aggregation exactly → full DuckDB oracle parity,
  the strongest check a streaming op can get.
- sliding window sums: same, oracle unnests each event into its
  window/slide buckets.
- per-user running totals via ``applyInPandasWithState``: genuinely
  non-SQL-expressible custom state → rows-only check (driver records
  the weaker gate, as designed).

Scale notes: the shuffle key is the window/group key exactly as in
batch; state size is bounded by watermark horizon × key cardinality;
the memory sink here is test plumbing — production writes
date-partitioned parquet (io/writers.py) for partition pruning.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..streaming import events as SE
from .registry import register

_SEQ = itertools.count()

_TS_FMT = "yyyy-MM-dd HH:mm:ss"
_SQL_TS_FMT = "%Y-%m-%d %H:%M:%S"


def _tmp_ckpt() -> str:
    """Checkpoint tempdir with atexit cleanup — availableNow runs are
    one-shot, so the checkpoint has no value past the process (a bare
    mkdtemp here leaked one directory per run; ADVICE r10)."""
    d = tempfile.mkdtemp(prefix="sg_ckpt_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _stage_table_dir(sf_dir: str, table: str) -> str:
    """File-stream sources want a landing directory; stage one with a
    symlink to the read-only testdata parquet (one helper for every
    streamed table — symlinks cost nothing, so no reaper needed,
    unlike the real-copy multibatch stager below)."""
    d = tempfile.mkdtemp(prefix=f"sg_{table}_")
    os.symlink(f"{sf_dir}/{table}.parquet", f"{d}/{table}.parquet")
    return d


def _stage_events_dir(sf_dir: str) -> str:
    return _stage_table_dir(sf_dir, "events")


def _stream_shuffle_partitions(
    spark: SparkSession,
    src_dir: str,
    python_stateful: bool = False,
    heavy_state: bool = False,
) -> int:
    """Scale-adaptive shuffle-partition count for a stateful streaming
    plan (r14 optimization; guide §2.2/§2.4 applied to state stores).

    AQE cannot coalesce stateful streaming shuffles — the state-store
    instance count is FIXED per shuffle partition at the first
    micro-batch, and every instance pays a per-batch open/update/
    commit floor regardless of how little state it holds. Under the
    session default (shuffle partitions = local core count = 32) a
    2 MB availableNow replay runs 128 store instances for a
    stream-stream join whose useful state is ~10 MB: measured
    65-96 s wall; the same plan at 4 partitions is 3.9-6.2 s
    (A/B in OPTIMIZATION_r14.md). Batch plans never had this problem
    because AQE coalesces their post-shuffle partitions to the data.

    Sizing rule: one stateful partition per scan split
    (``spark.sql.files.maxPartitionBytes``) of the staged source,
    floored at 4 for CPU parallelism within a micro-batch, capped at
    ``defaultParallelism``. At cluster scale the source is orders of
    magnitude past the cap, so the cap dominates and behavior equals
    the session default; at test scale the state machinery tracks the
    data.

    ``python_stateful=True`` (r15; r14 verdict item 7): for plans
    whose hot path is a Python stateful operator
    (applyInPandasWithState / transformWithStateInPandas) the
    partition count is ALSO the Python-worker parallelism — the floor
    of 4 that is right for JVM state-store machinery starves the
    Python side. Cores-derived floor instead:
    max(4, defaultParallelism // 2). Interleaved A/B on
    streaming_running_totals_final at sf0.1
    (plans/r15/stateful_floor_ab.txt): 4 partitions best 3.00 s /
    med 3.33; 8 -> 2.21/2.78; 16 -> 2.24/2.30. The cores/2 rule
    tracks the driver's low-core bench run and still caps at
    defaultParallelism, so cluster behavior is unchanged.

    ``heavy_state=True`` (r15): same cores-derived floor for plans
    whose STATE cardinality far exceeds what the source-bytes rule
    sees — streaming_vwap_daily holds ~596k state rows (one per
    symbol-day, profiled in plans/r14/stream_profile_{before,after}.txt:
    updTimeMs 1.9 s, 131 MB store) behind a ~15 MB staged source that
    sizes to 1 split. A/B at sf0.1: 4 partitions best 4.71 s / med 5.62;
    8 -> 3.61/4.40; 16 -> 3.36/4.02. Small-state plans keep floor 4
    (streaming_ohlc_bars_append measured BEST at 4: 1.43 vs 1.65 at
    16 — per-instance machinery dominates when state is small).

    Result-safety: partition count never changes WHAT a streaming
    query computes — aggregations/joins/session merges are
    partitioning-independent, the dedup queries emit keys only, and
    the applyInPandasWithState totals are associative — re-certified
    by the full oracle-parity suite after this change.
    """
    total = 0
    for root, _dirs, files in os.walk(src_dir, followlinks=True):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(root, fn))
            except OSError:
                pass
    try:
        raw = spark.conf.get("spark.sql.files.maxPartitionBytes")
        split = int("".join(ch for ch in raw if ch.isdigit()) or 0) or (
            128 * 1024 * 1024
        )
    except Exception:
        split = 128 * 1024 * 1024
    splits = -(-total // split) if total else 1
    par = spark.sparkContext.defaultParallelism
    floor = max(4, par // 2) if (python_stateful or heavy_state) else 4
    return min(par, max(floor, int(splits)))


def _snapshot_and_drop(spark: SparkSession, name: str) -> DataFrame:
    """Snapshot a memory-sink table to a temp parquet dir (atexit-
    reaped) and DROP the catalog view, returning the parquet-backed
    frame. Without this every streaming query leaves its full result
    set pinned on the driver heap for the session's lifetime — a
    long-lived session (full sf0.1 sweep, serving loop) accumulates
    sinks until the JVM dies, which is exactly how the first
    continuation-close [170:251] sweep chunk crashed after ~80
    streaming/store queries (BASELINE.md). Parquet round-trips the
    schema bitwise (timestamps under the UTC session pin, structs,
    doubles), so oracle hashes are unaffected."""
    import atexit
    import shutil

    out_dir = tempfile.mkdtemp(prefix="sg_streamout_")
    atexit.register(shutil.rmtree, out_dir, ignore_errors=True)
    spark.table(name).write.mode("overwrite").parquet(out_dir)
    spark.catalog.dropTempView(name)
    return spark.read.parquet(out_dir)


def _run_to_table(
    spark: SparkSession,
    stream_df: DataFrame,
    mode: str,
    src_dir: str | None = None,
    python_stateful: bool = False,
    heavy_state: bool = False,
) -> DataFrame:
    name = f"sg_stream_{next(_SEQ)}_{os.getpid()}"
    if src_dir is None:
        SE.run_available_now(stream_df, _tmp_ckpt(), name, output_mode=mode)
    else:
        # Stateful-plan partitioning sized to the staged source
        # (see _stream_shuffle_partitions); save/restore so batch
        # plans after this query keep the session default.
        key = "spark.sql.shuffle.partitions"
        prev = spark.conf.get(key)
        spark.conf.set(
            key,
            str(
                _stream_shuffle_partitions(
                    spark,
                    src_dir,
                    python_stateful=python_stateful,
                    heavy_state=heavy_state,
                )
            ),
        )
        try:
            SE.run_available_now(
                stream_df, _tmp_ckpt(), name, output_mode=mode
            )
        finally:
            spark.conf.set(key, prev)
    return _snapshot_and_drop(spark, name)


_TUMBLING_ORACLE = f"""
SELECT strftime(date_trunc('hour', ts), '{_SQL_TS_FMT}') AS window_start,
       strftime(date_trunc('hour', ts) + INTERVAL 1 HOUR, '{_SQL_TS_FMT}') AS window_end,
       event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2, 3
"""


@register(
    "streaming_tumbling_counts",
    _TUMBLING_ORACLE,
    doc="Structured Streaming tumbling 1h windows, availableNow, complete mode "
    "== batch agg (SURVEY §2.11)",
)
def q_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    staged = _stage_events_dir(sf_dir)
    stream = SE.read_event_stream(spark, staged)
    out = _run_to_table(spark, SE.tumbling_counts(stream), "complete", src_dir=staged)
    return out.select(
        F.date_format("window_start", _TS_FMT).alias("window_start"),
        F.date_format("window_end", _TS_FMT).alias("window_end"),
        "event_type",
        "n",
        F.col("sum_value").cast("double").alias("sum_value"),
    )


# RocksDB state-store twin (round-2 verdict item 8): identical plan
# and oracle to streaming_tumbling_counts, state kept in an embedded
# RocksDB instead of the JVM-heap HDFS-backed map. At the 1e8-key
# projection (BASELINE.md §4) the heap map's GC pressure is the
# limiter; RocksDB keeps state off-heap with changelog checkpointing.
# scripts/state_probe.py records commit/update latencies for both.
_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"


@register(
    "streaming_tumbling_counts_rocksdb",
    _TUMBLING_ORACLE,
    doc="streaming_tumbling_counts with the RocksDB state-store provider — "
    "off-heap state for the 1e8-key 24/7 projection (SURVEY §2.11, "
    "round-2 verdict item 8)",
)
def q_streaming_tumbling_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    try:
        prev = spark.conf.get(_PROVIDER_KEY)
    except Exception:
        prev = None
    spark.conf.set(_PROVIDER_KEY, _ROCKSDB_PROVIDER)
    try:
        staged = _stage_events_dir(sf_dir)
        stream = SE.read_event_stream(spark, staged)
        out = _run_to_table(
            spark, SE.tumbling_counts(stream), "complete", src_dir=staged
        )
    finally:
        if prev is None:
            spark.conf.unset(_PROVIDER_KEY)
        else:
            spark.conf.set(_PROVIDER_KEY, prev)
    return out.select(
        F.date_format("window_start", _TS_FMT).alias("window_start"),
        F.date_format("window_end", _TS_FMT).alias("window_end"),
        "event_type",
        "n",
        F.col("sum_value").cast("double").alias("sum_value"),
    )


# Each event lands in ceil(window/slide)=2 buckets: trunc(ts) and
# trunc(ts)-1h. The oracle materializes exactly that assignment.
_SLIDING_ORACLE = f"""
WITH assigned AS (
    SELECT unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                   date_trunc('hour', ts)]) AS ws,
           value
    FROM events
)
SELECT strftime(ws, '{_SQL_TS_FMT}') AS window_start,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM assigned
GROUP BY 1
"""


@register(
    "streaming_sliding_sums",
    _SLIDING_ORACLE,
    doc="Structured Streaming sliding 2h/1h windows, availableNow, complete mode "
    "(SURVEY §2.11 ext)",
)
def q_streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    staged = _stage_events_dir(sf_dir)
    stream = SE.read_event_stream(spark, staged)
    windowed = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n", "sum_value")
    )
    out = _run_to_table(spark, windowed, "complete", src_dir=staged)
    return out.select(
        F.date_format("window_start", _TS_FMT).alias("window_start"),
        "n",
        F.col("sum_value").cast("double").alias("sum_value"),
    )


# Session windows (batch form of streaming/events.py::session_counts —
# F.session_window works identically in batch groupBy, which is what
# makes a full oracle possible; the oracle is the classic
# gaps-and-islands rewrite: new island when the gap ≥ 30 min).
_SESSION_ORACLE = f"""
WITH gapped AS (
    SELECT user_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
islands AS (
    SELECT user_id, ts,
           sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
           ) AS session_id
    FROM gapped
)
SELECT strftime(min(ts), '{_SQL_TS_FMT}') AS session_start,
       strftime(max(ts) + INTERVAL 30 MINUTE, '{_SQL_TS_FMT}') AS session_end,
       user_id,
       count(*) AS n_events
FROM islands
GROUP BY user_id, session_id
"""


@register(
    "session_window_agg",
    _SESSION_ORACLE,
    doc="per-user session windows (30 min gap) via F.session_window; oracle is "
    "the gaps-and-islands SQL rewrite (SURVEY §2.11 ext)",
)
def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io.readers import load_table

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", _TS_FMT).alias("session_start"),
            F.date_format("w.end", _TS_FMT).alias("session_end"),
            "user_id",
            "n_events",
        )
    )


@register(
    "streaming_running_user_totals",
    None,  # applyInPandasWithState: custom cross-batch state, not SQL-expressible
    doc="custom stateful streaming op (applyInPandasWithState running totals); "
    "rows-only driver check by design (SURVEY §2.11/2.12)",
)
def q_streaming_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    staged = _stage_events_dir(sf_dir)
    stream = SE.read_event_stream(spark, staged)
    return _run_to_table(
        spark,
        SE.running_user_totals(stream),
        "update",
        src_dir=staged,
        python_stateful=True,
    )


@register(
    "streaming_running_user_totals_ttl",
    None,  # custom cross-batch state with TTL eviction, not SQL-expressible
    doc="bounded-state twin of streaming_running_user_totals: "
    "EventTimeTimeout evicts keys idle past the TTL, capping state at "
    "active-key cardinality instead of all-time (round-2 verdict item 4); "
    "rows-only driver check by design",
)
def q_streaming_state_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Under a single availableNow replay nothing times out (the
    # watermark only advances between micro-batches), so the emitted
    # totals equal the unbounded twin — tests/test_streaming.py drives
    # the multi-run eviction path explicitly.
    staged = _stage_events_dir(sf_dir)
    stream = SE.read_event_stream(spark, staged)
    return _run_to_table(
        spark,
        SE.running_user_totals_ttl(stream, ttl_ms=3_600_000),
        "update",
        src_dir=staged,
        python_stateful=True,
    )


# NOTE: streaming/events.py also implements the Spark 4
# transformWithStateInPandas successor (running_user_totals_tws —
# typed ValueState, first-class TTL, RocksDB-backed). It is NOT
# registered as a driver query: the TWS Python<->JVM state protocol
# needs google.protobuf, which this container lacks (pip installs are
# out of scope), so the operator is environment-gated —
# tests/test_streaming.py skips it cleanly when the import is broken
# and verifies batch-equality where it works.


# Stream-static join: the streaming fact enriched with a static
# dimension — stateless, so availableNow + append emits every joined
# row and the batch join IS the oracle. At scale the static side is
# re-broadcast per micro-batch (keep dims broadcast-sized or use a
# state-store join).
_STREAM_STATIC_ORACLE = f"""
SELECT e.event_id,
       e.event_type,
       c.c_mktsegment,
       strftime(e.ts, '{_SQL_TS_FMT}') AS ts
FROM events e
JOIN customer c ON e.user_id % 1000 = c.c_custkey
"""


@register(
    "streaming_static_enrich",
    _STREAM_STATIC_ORACLE,
    doc="stream-static broadcast enrichment join under availableNow "
    "(SURVEY §2.11 ext)",
)
def q_stream_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io.readers import load_table

    staged = _stage_events_dir(sf_dir)
    stream = SE.read_event_stream(spark, staged)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = (
        stream.withColumn("join_key", F.col("user_id") % 1000)
        .join(F.broadcast(cust), F.col("join_key") == F.col("c_custkey"))
        .select("event_id", "event_type", "c_mktsegment", "ts")
    )
    out = _run_to_table(spark, joined, "append", src_dir=staged)
    return out.select(
        "event_id", "event_type", "c_mktsegment",
        F.date_format("ts", _TS_FMT).alias("ts"),
    )


# Streaming deduplication: distinct (user_id, event_type) pairs with
# dedup state in the state store. Only the key columns are emitted, so
# the result is deterministic regardless of which physical row
# survives. Plain dropDuplicates keeps state forever (fine under
# availableNow's bounded input); a 24/7 pipeline would switch to
# dropDuplicatesWithinWatermark so state ages out at the watermark
# horizon — same plan shape, bounded state.
_STREAM_DEDUP_ORACLE = """
SELECT DISTINCT user_id, event_type FROM events
"""


@register(
    "streaming_dedup_keys",
    _STREAM_DEDUP_ORACLE,
    doc="streaming deduplication via state store; keys-only output keeps "
    "it deterministic (SURVEY §2.11 ext)",
)
def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    staged = _stage_events_dir(sf_dir)
    stream = SE.read_event_stream(spark, staged)
    deduped = stream.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return _run_to_table(spark, deduped, "append", src_dir=staged)


# Bounded-state dedup twin (round-2 verdict item 4, second half): the
# dedup key carries its hour bucket and the stream is watermarked, so
# dropDuplicatesWithinWatermark ages each key's dedup state out once
# the watermark passes its bucket — state ∝ keys active inside the
# horizon, not all-time distinct keys. Keying by (user, type, hour)
# makes the bounded semantics EXACTLY SQL-expressible (distinct per
# hour bucket): duplicates of one key are at most 1h apart, inside the
# 2h horizon, so none can outlive the state that dedups them.
_STREAM_DEDUP_TTL_ORACLE = f"""
SELECT DISTINCT user_id, event_type,
       strftime(date_trunc('hour', ts), '{_SQL_TS_FMT}') AS hour_start
FROM events
"""


@register(
    "streaming_dedup_keys_ttl",
    _STREAM_DEDUP_TTL_ORACLE,
    doc="bounded-state streaming dedup via dropDuplicatesWithinWatermark on "
    "hour-bucketed keys; dedup state ages out at the watermark horizon "
    "(SURVEY §2.11 ext, round-2 verdict item 4)",
)
def q_streaming_dedup_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    staged = _stage_events_dir(sf_dir)
    stream = SE.read_event_stream(spark, staged)
    deduped = (
        stream.withColumn("hour_start", F.date_trunc("hour", "ts"))
        .withWatermark("hour_start", "2 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "hour_start"])
        .select("user_id", "event_type", "hour_start")
    )
    out = _run_to_table(spark, deduped, "append", src_dir=staged)
    return out.select(
        "user_id",
        "event_type",
        F.date_format("hour_start", _TS_FMT).alias("hour_start"),
    )


# Stream-stream inner join: two watermarked streams joined on an equi
# key + event-time band. Each side buffers rows in the state store
# only until the watermark passes the band (state is bounded by
# watermark horizon x key cardinality — the same budget as a windowed
# agg). Under availableNow both sides are complete, so the emitted
# matches equal the batch band join, which is the oracle
# (range_interval_join's streaming twin, purchases x clicks).
_STREAM_STREAM_ORACLE = """
SELECT p.event_id AS purchase_id,
       c.event_id AS click_id
FROM events p
JOIN events c
  ON p.user_id = c.user_id
 AND c.ts > p.ts
 AND c.ts <= p.ts + INTERVAL 1 HOUR
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
"""


@register(
    "streaming_stream_stream_join",
    _STREAM_STREAM_ORACLE,
    doc="watermarked stream-stream interval join (purchase -> clicks "
    "within 1h); state bounded by the watermark horizon "
    "(SURVEY §2.11 ext)",
)
def q_stream_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    staged = _stage_events_dir(sf_dir)
    purchases = (
        SE.read_event_stream(spark, staged)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        SE.read_event_stream(spark, staged)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") > F.col("p_ts"))
        & (F.col("c_ts") <= F.col("p_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("purchase_id", "click_id")
    return _run_to_table(spark, joined, "append", src_dir=staged)


# ---------------------------------------------------------------------------
# Streaming × north-star composition: continuously dedupe an arriving
# document stream against a static training corpus with MinHash-LSH.
# Semantics are identical to the batch similarity_join_corpus (same
# probes: 70% token prefixes of doc_id%7 originals, id +30M), so the
# batch SQL oracle checks the STREAM end-to-end — the strongest
# correctness gate a streaming operator can get.
# ---------------------------------------------------------------------------


def _stage_documents_dir(sf_dir: str) -> str:
    d = tempfile.mkdtemp(prefix="sg_docs_")
    os.symlink(f"{sf_dir}/documents.parquet", f"{d}/documents.parquet")
    return d


def _read_document_stream(spark: SparkSession, path: str) -> DataFrame:
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    return spark.readStream.schema(schema).parquet(path)


@register(
    "streaming_corpus_dedup",
    None,  # oracle attached below — reuses the batch simjoin oracle
    doc="streaming MinHash-LSH dedup of an arriving document stream "
    "against a static corpus (stream-static bucket joins, map-side "
    "signatures, pair-dedup state only); availableNow result equals "
    "the batch operator so the batch SQL oracle checks the stream "
    "(SURVEY §2.11 × north star)",
)
def q_streaming_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io.readers import load_table
    from ..operators import dedup as D
    from .queries_northstar import (
        _BANDS,
        _NGRAM,
        _NUM_HASHES,
        _SIMJOIN_OFFSET,
        _SJ_THRESHOLD,
    )
    from ..functions.text import tokens

    staged = _stage_documents_dir(sf_dir)
    stream = _read_document_stream(spark, staged)
    tk = tokens(F.col("text"))
    keep_n = F.greatest(F.lit(3), F.floor(F.size(tk) * 0.7).cast("int"))
    probes = stream.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + _SIMJOIN_OFFSET).alias("doc_id"),
        F.array_join(F.slice(tk, F.lit(1), keep_n), " ").alias("text"),
    )
    corpus = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    joined = D.minhash_similarity_join_stream(
        probes, corpus, "doc_id", "text",
        ngram=_NGRAM, num_hashes=_NUM_HASHES, bands=_BANDS,
        threshold=_SJ_THRESHOLD,
    )
    return _run_to_table(spark, joined, "append", src_dir=staged)


def _attach_simjoin_oracle() -> None:
    """The oracle is the batch similarity-join SQL (identical
    semantics); registered after the fact to keep the build-time
    import cheap."""
    from .queries_northstar import _sql_simjoin_oracle
    from .registry import _REGISTRY

    q = _REGISTRY["streaming_corpus_dedup"]
    _REGISTRY["streaming_corpus_dedup"] = type(q)(
        q.name, q.spark_fn, _sql_simjoin_oracle(), q.doc
    )


_attach_simjoin_oracle()


# ---------------------------------------------------------------------------
# Streaming corpus curation: the capstone pipeline (quality score +
# lang-ID map-side → policy filter → exact dedup by fingerprint) over
# an ARRIVING document stream. COMPLETE output mode makes the emitted
# table equal the batch aggregation exactly, so the batch oracle
# checks the stream. Dedup state = one row per distinct fingerprint —
# bounded under availableNow; a 24/7 deployment bounds it with a
# watermarked ingest-time window per fingerprint epoch.
# ---------------------------------------------------------------------------


@register(
    "streaming_corpus_curation",
    None,  # oracle attached below (batch curation SQL, identical semantics)
    doc="streaming corpus curation: quality + lang-ID (stateless map-side) "
    "→ filter → exact dedup agg in COMPLETE mode == batch result, full "
    "oracle parity (SURVEY §2.11 × north star capstone). Test-scale "
    "parity DEVICE: a 24/7 deployment uses the watermarked append path "
    "(streaming_dedup_keys_ttl) + the foreachBatch idempotent sink",
)
def q_streaming_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import norm_text
    from ..operators import text_analysis as TA

    staged = _stage_documents_dir(sf_dir)
    stream = _read_document_stream(spark, staged).select("doc_id", "text")
    scored = TA.with_text_stats(stream, "text")
    with_lang = scored.withColumn("lang_guess", TA.lang_id(F.col("text")))
    kept = with_lang.where(
        (F.col("n_tokens") >= 10) & (F.col("quality_score") > 0.1)
    )
    curated = (
        kept.select(
            F.md5(norm_text(F.col("text"))).alias("fingerprint"),
            "doc_id",
            "lang_guess",
            "n_tokens",
            "quality_score",
        )
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("kept_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.min("lang_guess").alias("lang_guess"),
            F.min("n_tokens").alias("n_tokens"),
            F.min("quality_score").alias("quality_score"),
        )
    )
    return _run_to_table(spark, curated, "complete", src_dir=staged)


def _attach_curation_oracle() -> None:
    from .queries_northstar import _sql_corpus_curation
    from .registry import _REGISTRY

    q = _REGISTRY["streaming_corpus_curation"]
    _REGISTRY["streaming_corpus_curation"] = type(q)(
        q.name, q.spark_fn, _sql_corpus_curation(), q.doc
    )


_attach_curation_oracle()


# ---------------------------------------------------------------------------
# Custom STREAMING data source (Spark 4 Python Data Source API): the
# quote feed's daily schedule as micro-batch offsets (one day per
# batch, exactly-once via deterministic replay between offsets —
# sources/quote_feed.py). availableNow drains every generated day, so
# the result equals the batch scan and the arithmetic oracle checks
# the streaming source end-to-end.
# ---------------------------------------------------------------------------

_QFS_SYMBOLS, _QFS_DAYS = 50, 15

_QUOTE_FEED_STREAM_ORACLE = f"""
WITH bars AS (
    SELECT s.range AS i, d.range AS j,
           (s.range * 31 + d.range * 7) % 5000 AS base
    FROM range({_QFS_SYMBOLS}) s, range({_QFS_DAYS}) d
),
priced AS (
    SELECT i, j,
           (1000 + base * 3) / CAST(100.0 AS DOUBLE) AS close,
           10000 + (i * 97 + j * 13) % 90000 AS volume
    FROM bars
)
SELECT 'S' || lpad(CAST(i AS VARCHAR), 4, '0') AS symbol,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(CAST(close AS DECIMAL(18,2))) AS DOUBLE) AS sum_close,
       CAST(sum(CAST(volume AS BIGINT)) AS BIGINT) AS sum_volume
FROM priced
GROUP BY 1
"""


@register(
    "streaming_quote_feed_agg",
    _QUOTE_FEED_STREAM_ORACLE,
    doc="custom streaming data source (daily micro-batch offsets, "
    "exactly-once deterministic replay) drained under availableNow in "
    "COMPLETE mode == batch aggregate; arithmetic oracle checks the "
    "streaming source end-to-end (SURVEY §4.2 × §2.11)",
)
def q_streaming_quote_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.quote_feed import register as register_source

    register_source(spark)
    feed = (
        spark.readStream.format("quote_feed")
        .option("symbols", str(_QFS_SYMBOLS))
        .option("days", str(_QFS_DAYS))
        .option("days_per_batch", "1")
        .load()
    )
    agg = feed.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.col("close").cast("decimal(18,2)")).cast("double").alias("sum_close"),
        F.sum("volume").alias("sum_volume"),
    )
    # availableNow only drains a Simple stream reader's one prefetched
    # batch, so run the real micro-batch cadence (one batch per "day")
    # and drain with processAllAvailable — offsets stabilize once the
    # feed's final day is read, empty batches stop arriving, and the
    # COMPLETE-mode table holds the full aggregate.
    name = f"sg_stream_{next(_SEQ)}_{os.getpid()}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", _tmp_ckpt())
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    return _snapshot_and_drop(spark, name)


# Streaming OHLC twin (round-4 ext): candlestick bars built from the
# event stream, COMPLETE mode == the batch resample exactly, so the
# batch oracle checks the stream bitwise (min_by/max_by are
# fully-declarative aggregates and run in streaming group-bys).
_STREAM_OHLC_ORACLE = """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bar_hour,
       event_type,
       first(value ORDER BY ts, event_id) AS open_v,
       max(value) AS high_v,
       min(value) AS low_v,
       last(value ORDER BY ts, event_id) AS close_v,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS volume,
       CAST(count(*) AS BIGINT) AS n_ticks
FROM events
GROUP BY 1, 2
"""


@register(
    "streaming_ohlc_bars",
    _STREAM_OHLC_ORACLE,
    doc="hourly OHLC candlesticks from the event stream (complete mode == "
    "batch resample; min_by/max_by in a streaming group-by) "
    "(SURVEY §2.11 ext, r4). Test-scale parity DEVICE: complete mode + "
    "memory sink holds all bars on the driver — the 24/7 shape is "
    "streaming_ohlc_bars_append below",
)
def q_streaming_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import dec as _dec

    staged = _stage_events_dir(sf_dir)
    stream = SE.read_event_stream(spark, staged)
    key = F.struct("ts", "event_id")
    bars = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.date_trunc("hour", "ts").alias("bar_hour"), "event_type")
        .agg(
            F.min_by("value", key).alias("open_v"),
            F.max("value").alias("high_v"),
            F.min("value").alias("low_v"),
            F.max_by("value", key).alias("close_v"),
            F.sum(_dec("value")).alias("volume"),
            F.count(F.lit(1)).cast("bigint").alias("n_ticks"),
        )
    )
    out = _run_to_table(spark, bars, "complete", src_dir=staged)
    return out.select(
        "bar_hour",
        "event_type",
        "open_v",
        "high_v",
        "low_v",
        F.col("close_v"),
        F.col("volume").cast("double").alias("volume"),
        "n_ticks",
    )


# Production-mode OHLC twin (round-4 verdict item 6): the same bars in
# APPEND mode — only windows the 2-hour watermark has closed are ever
# emitted, which is the shape that runs 24/7 (state is evicted as
# windows close; nothing accumulates on the driver, unlike the
# complete-mode parity device above). availableNow drains the file
# source, then Spark's no-data batch advances the watermark to
# max(ts) - 2h and flushes every closed window; the oracle is the
# batch resample restricted to exactly those hours
# (window_end <= max(ts) - interval 2h — on this corpus the watermark
# never lands on an hour boundary, so <= and < coincide).
_STREAM_OHLC_APPEND_ORACLE = """
WITH wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events)
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bar_hour,
       event_type,
       first(value ORDER BY ts, event_id) AS open_v,
       max(value) AS high_v,
       min(value) AS low_v,
       last(value ORDER BY ts, event_id) AS close_v,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS volume,
       CAST(count(*) AS BIGINT) AS n_ticks
FROM events, wm
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm.w
GROUP BY 1, 2
"""


@register(
    "streaming_ohlc_bars_append",
    _STREAM_OHLC_APPEND_ORACLE,
    doc="hourly OHLC candlesticks in APPEND mode — the production shape: "
    "watermark-closed windows only, state evicted as bars close; oracle "
    "is the batch resample restricted to closed hours (SURVEY §2.11, r5)",
)
def q_streaming_ohlc_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import dec as _dec

    staged = _stage_events_dir(sf_dir)
    stream = SE.read_event_stream(spark, staged)
    key = F.struct("ts", "event_id")
    bars = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.min_by("value", key).alias("open_v"),
            F.max("value").alias("high_v"),
            F.min("value").alias("low_v"),
            F.max_by("value", key).alias("close_v"),
            F.sum(_dec("value")).alias("volume"),
            F.count(F.lit(1)).cast("bigint").alias("n_ticks"),
        )
    )
    out = _run_to_table(spark, bars, "append", src_dir=staged)
    return out.select(
        F.col("window.start").alias("bar_hour"),
        "event_type",
        "open_v",
        "high_v",
        "low_v",
        "close_v",
        F.col("volume").cast("double").alias("volume"),
        "n_ticks",
    )


# ---------------------------------------------------------------------------
# Stream-stream LEFT OUTER join (round-5 ext): the attribution shape
# the inner join can't express — every purchase emits, null-padded
# when no click followed within the hour. The outer row for an
# unmatched purchase can only be emitted once the watermark proves no
# matching click can still arrive (watermark > p_ts + 1h); purchases
# inside the final watermark horizon therefore never leave the state
# store under availableNow. To keep the result deterministic and
# independent of that boundary, both the stream output and the oracle
# restrict to purchases with ts <= least(max purchase ts, max click
# ts) - 4h — one hour INSIDE the provable-emission frontier. The
# frontier must use the PER-STREAM minimum, not the global max(ts):
# Spark's global watermark is min over the watermark nodes, each
# computed from ITS OWN stream's max event time, so when the last
# click lags the last purchase the frontier lags with it (a latent
# r5 bug caught by the r7 sf0.001 cross-scale sweep — at denser sfs
# the per-type maxima coincide within the margin and it never fired).
# State budget is the same as the inner join: both sides buffer only
# inside the watermark horizon.
# ---------------------------------------------------------------------------

def _stream_cutoff(events_df: DataFrame) -> DataFrame:
    """1-row (cutoff) frame: least(max purchase ts, max click ts) - 4h
    — one hour inside the provable-emission frontier of the 2h-
    watermark / 1h-band stream-stream joins. The global watermark is
    the MIN over the per-stream watermark nodes, so the frontier must
    track the LAGGING stream's max, not the global max(ts)."""
    pmax = F.max(F.when(F.col("event_type") == "purchase", F.col("ts")))
    cmax = F.max(F.when(F.col("event_type") == "click", F.col("ts")))
    return events_df.agg(
        (F.least(pmax, cmax) - F.expr("INTERVAL 4 HOUR")).alias("cutoff")
    )


_STREAM_STREAM_LEFT_ORACLE = """
SELECT p.event_id AS purchase_id,
       c.event_id AS click_id
FROM events p
LEFT JOIN events c
  ON c.event_type = 'click'
 AND p.user_id = c.user_id
 AND c.ts > p.ts
 AND c.ts <= p.ts + INTERVAL 1 HOUR
WHERE p.event_type = 'purchase'
  AND p.ts <= (SELECT least(
                   max(CASE WHEN event_type = 'purchase' THEN ts END),
                   max(CASE WHEN event_type = 'click' THEN ts END))
               - INTERVAL 4 HOUR FROM events)
"""


@register(
    "streaming_stream_stream_left_join",
    _STREAM_STREAM_LEFT_ORACLE,
    doc="watermarked stream-stream LEFT OUTER interval join (every "
    "purchase emits; null click after the watermark proves no match "
    "can arrive); result restricted 1h inside the emission frontier "
    "so the availableNow run equals the batch left join "
    "(SURVEY §2.11 ext)",
)
def q_stream_stream_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    staged = _stage_events_dir(sf_dir)
    purchases = (
        SE.read_event_stream(spark, staged)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        SE.read_event_stream(spark, staged)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") > F.col("p_ts"))
        & (F.col("c_ts") <= F.col("p_ts") + F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    ).select("purchase_id", "click_id", "p_ts")
    out = _run_to_table(spark, joined, "append", src_dir=staged)
    # Static cutoff = least(per-stream max ts) - 4h, computed in-plan
    # (broadcast scalar), NOT collected on the driver. least() of the
    # per-type maxima mirrors the global-watermark rule (min over the
    # per-stream watermark nodes).
    from ..io.readers import load_table

    cutoff = _stream_cutoff(load_table(spark, sf_dir, "events"))
    return (
        out.join(F.broadcast(cutoff))
        .where(F.col("p_ts") <= F.col("cutoff"))
        .select("purchase_id", "click_id")
    )


# ---------------------------------------------------------------------------
# Streaming write through the custom Python sink (round-6 ext): the
# stream drains availableNow through jsonl_sink's per-MICROBATCH
# commit protocol (epoch-tagged parts, manifest-last, replayed-epoch
# idempotence guard — sources/jsonl_sink.py), then the files are read
# back schema-first and aggregated against an oracle on the ORIGINAL
# events table. Completes the extension matrix: quote_feed = Python
# source (batch + stream reads), jsonl_sink = Python sink (batch +
# stream writes), every quadrant driver-checked.
# ---------------------------------------------------------------------------

_STREAM_SINK_ORACLE = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
GROUP BY event_type
"""


@register(
    "streaming_jsonl_sink_roundtrip",
    _STREAM_SINK_ORACLE,
    doc="streaming write through the custom Python DataSourceStream"
    "Writer (per-epoch two-phase commit, replay-idempotent), read "
    "back schema-first, aggregated vs the original-table oracle "
    "(SURVEY §2.11 + §2.2 ext, r6)",
)
def q_streaming_jsonl_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.jsonl_sink import register_jsonl_sink

    register_jsonl_sink(spark)
    staged = _stage_events_dir(sf_dir)
    stream = SE.read_event_stream(spark, staged).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    out_dir = tempfile.mkdtemp(prefix="sg_sjsink_") + "/events"
    os.makedirs(out_dir, exist_ok=True)
    ckpt = tempfile.mkdtemp(prefix="sg_sjsink_ckpt_")
    q = (
        stream.writeStream.format("jsonl_sink")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        # Fail loudly instead of reading back a partial sink directory
        # (which would surface as a confusing hash mismatch downstream).
        q.stop()
        raise TimeoutError(
            "streaming_jsonl_sink_roundtrip: availableNow stream did "
            "not finish within 300s"
        )
    back = spark.read.schema(
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
        "event_type STRING, value DOUBLE"
    ).json(out_dir + "/part-*.jsonl")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("value_cents"),
    )


# ---------------------------------------------------------------------------
# Stream-stream FULL OUTER interval join (round-7 ext) — completes the
# stream-stream family (inner r2, left-outer r5): BOTH sides null-pad,
# i.e. unmatched purchases AND unmatched clicks each emit once the
# watermark proves no partner can still arrive. A click's potential
# purchases all sit in (c_ts - 1h, c_ts), so its outer row emits once
# the watermark passes c_ts; a purchase's once it passes p_ts + 1h.
# Determinism device (same as the left join, applied to BOTH sides):
# the output keeps only rows whose PRESENT timestamps are <=
# least(max purchase ts, max click ts) - 4h — an hour inside the
# provable-emission frontier (per-stream minimum, NOT the global
# max(ts): the watermark is min over the per-stream nodes) — and the
# oracle applies the identical post-join filter, so no row near the
# eviction edge can flap either way. Note the filter runs AFTER the
# join on both engines: pre-filtering the inputs would turn
# cross-cutoff matches into spurious outer rows.
# ---------------------------------------------------------------------------

_STREAM_STREAM_FULL_ORACLE = """
WITH j AS (
    SELECT p.event_id AS purchase_id, p.ts AS p_ts,
           c.event_id AS click_id, c.ts AS c_ts
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase') p
    FULL JOIN (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts > p.ts
     AND c.ts <= p.ts + INTERVAL 1 HOUR
),
cut AS (SELECT least(
            max(CASE WHEN event_type = 'purchase' THEN ts END),
            max(CASE WHEN event_type = 'click' THEN ts END))
        - INTERVAL 4 HOUR AS cutoff FROM events)
SELECT purchase_id, click_id
FROM j, cut
WHERE (p_ts IS NULL OR p_ts <= cutoff)
  AND (c_ts IS NULL OR c_ts <= cutoff)
"""


@register(
    "streaming_stream_stream_full_join",
    _STREAM_STREAM_FULL_ORACLE,
    doc="watermarked stream-stream FULL OUTER interval join — both "
    "sides null-pad once the watermark proves no partner can arrive; "
    "present-timestamp cutoff 1h inside the emission frontier keeps "
    "availableNow equal to the batch full join (SURVEY §2.11 ext, r7)",
)
def q_stream_stream_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    staged = _stage_events_dir(sf_dir)
    purchases = (
        SE.read_event_stream(spark, staged)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        SE.read_event_stream(spark, staged)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") > F.col("p_ts"))
        & (F.col("c_ts") <= F.col("p_ts") + F.expr("INTERVAL 1 HOUR")),
        "fullOuter",
    ).select("purchase_id", "click_id", "p_ts", "c_ts")
    out = _run_to_table(spark, joined, "append", src_dir=staged)
    from ..io.readers import load_table

    cutoff = _stream_cutoff(load_table(spark, sf_dir, "events"))
    return (
        out.join(F.broadcast(cutoff))
        .where(
            (F.col("p_ts").isNull() | (F.col("p_ts") <= F.col("cutoff")))
            & (F.col("c_ts").isNull() | (F.col("c_ts") <= F.col("cutoff")))
        )
        .select("purchase_id", "click_id")
    )


# ---------------------------------------------------------------------------
# Stream-stream RIGHT OUTER interval join (round-8 ext) — completes
# the four-way stream-stream family (inner r2, left r5, full r7):
# every CLICK emits; the purchase side null-pads once the watermark
# proves no partner can still arrive. A click's candidate purchases
# sit in [c_ts - 1h, c_ts), so its outer row is provable once the
# watermark passes c_ts — comfortably inside the shared 4h cutoff.
# Same determinism device as the left join with the roles mirrored:
# the kept rows' PRESENT click timestamps are <= least(per-stream
# max ts) - 4h, and the oracle applies the identical restriction.
# ---------------------------------------------------------------------------

_STREAM_STREAM_RIGHT_ORACLE = """
SELECT p.event_id AS purchase_id,
       c.event_id AS click_id
FROM events c
LEFT JOIN events p
  ON p.event_type = 'purchase'
 AND p.user_id = c.user_id
 AND c.ts > p.ts
 AND c.ts <= p.ts + INTERVAL 1 HOUR
WHERE c.event_type = 'click'
  AND c.ts <= (SELECT least(
                   max(CASE WHEN event_type = 'purchase' THEN ts END),
                   max(CASE WHEN event_type = 'click' THEN ts END))
               - INTERVAL 4 HOUR FROM events)
"""


@register(
    "streaming_stream_stream_right_join",
    _STREAM_STREAM_RIGHT_ORACLE,
    doc="watermarked stream-stream RIGHT OUTER interval join (every "
    "click emits; null purchase once the watermark proves no match "
    "can arrive) — the mirror of the left join, closing the four-way "
    "stream-stream family; cutoff 1h inside the emission frontier "
    "(SURVEY §2.11 ext, r8)",
)
def q_stream_stream_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    staged = _stage_events_dir(sf_dir)
    purchases = (
        SE.read_event_stream(spark, staged)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        SE.read_event_stream(spark, staged)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") > F.col("p_ts"))
        & (F.col("c_ts") <= F.col("p_ts") + F.expr("INTERVAL 1 HOUR")),
        "rightOuter",
    ).select("purchase_id", "click_id", "c_ts")
    out = _run_to_table(spark, joined, "append", src_dir=staged)
    from ..io.readers import load_table

    cutoff = _stream_cutoff(load_table(spark, sf_dir, "events"))
    return (
        out.join(F.broadcast(cutoff))
        .where(F.col("c_ts") <= F.col("cutoff"))
        .select("purchase_id", "click_id")
    )


# ---------------------------------------------------------------------------
# Final-state capstone for the custom stateful family (round-8): the
# update-mode running-totals exhibits are rows-only BY DESIGN (their
# emission set depends on micro-batching), but the FINAL state does
# not — with an integer-cents accumulator the running total is
# associative-exact, and the last emission per key (max n_events;
# strictly increasing) equals the batch groupBy no matter how the
# stream was batched. max_by(total_cents, n_events) projects exactly
# that, giving the applyInPandasWithState path its first full
# hash-check against DuckDB.
# ---------------------------------------------------------------------------

_RUNNING_FINAL_ORACLE = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM events
GROUP BY user_id
"""


@register(
    "streaming_running_totals_final",
    _RUNNING_FINAL_ORACLE,
    doc="applyInPandasWithState running totals with BIGINT-cents state, "
    "projected to the final emission per key (max_by over the strictly "
    "increasing n_events) — batch-invariant, so the custom stateful "
    "operator is hash-checked end to end; the double-state update-mode "
    "twins remain the emission exhibits (SURVEY §2.11/2.12 ext, r8)",
)
def q_streaming_running_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    staged = _stage_events_dir(sf_dir)
    stream = SE.read_event_stream(spark, staged)
    out = _run_to_table(
        spark,
        SE.running_user_totals_cents(stream),
        "update",
        src_dir=staged,
        python_stateful=True,
    )
    return out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("total_cents", "n_events").alias("total_cents"),
    )


# ---------------------------------------------------------------------------
# Streaming twin of the late-r8 quality classifier: the model is a
# STATELESS Catalyst projection (no aggregate, no window, no state),
# so it rides Structured Streaming completely unchanged — same
# expression tree, append mode, zero state store — and the BATCH
# oracle checks the stream bit-for-bit. This is the deployment shape
# of a pretraining quality filter: score documents as they arrive,
# keep/drop before they ever hit the corpus store.
# ---------------------------------------------------------------------------


def _attach_streaming_classifier() -> None:
    from .queries_r8 import _QUALITY_CLASSIFIER_ORACLE, classifier_scores

    @register(
        "streaming_quality_classifier",
        _QUALITY_CLASSIFIER_ORACLE,
        doc="the quality-classifier projection applied to an arriving "
        "document stream (append mode, stateless — no watermark or state "
        "store needed); availableNow result equals the batch operator so "
        "the identical integer-fixed-point oracle checks the stream end "
        "to end (SURVEY §2.11 x late-r8 classifier)",
    )
    def q_streaming_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
        staged = _stage_documents_dir(sf_dir)
        stream = _read_document_stream(spark, staged).select(
            "doc_id", "text"
        )
        return _run_to_table(
            spark, classifier_scores(stream), "append", src_dir=staged
        )


_attach_streaming_classifier()


# ---------------------------------------------------------------------------
# DYNAMIC-GAP session windows (late r8): F.session_window accepts a
# per-EVENT gap expression (purchases hold a session open 40 min,
# browse events only 15), which fixed-gap sessionization cannot
# express — the session end is max(ts_i + gap_i) over its members and
# an event joins iff it arrives strictly before that frontier. The
# oracle is the gaps-and-islands replay generalized to a running
# MAX-of-interval-ends (not lag-of-ts): new session iff
# ts >= max(prev ends) over the (ts, event_id) order.
# ---------------------------------------------------------------------------

_DYN_SESSION_ORACLE = """
WITH e AS (
    SELECT user_id, ts, event_id,
           ts + CASE WHEN event_type = 'purchase'
                THEN INTERVAL 40 MINUTE ELSE INTERVAL 15 MINUTE END AS ed
    FROM events
),
flagged AS (
    SELECT user_id, ts, ed, event_id,
           CASE WHEN max(ed) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ) IS NULL
                OR ts >= max(ed) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           THEN 1 ELSE 0 END AS new_sess
    FROM e
),
sess AS (
    SELECT user_id, ts, ed,
           sum(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ed) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM sess GROUP BY user_id, sid
"""


@register(
    "session_window_dynamic_gap",
    _DYN_SESSION_ORACLE,
    doc="per-user session windows with a DYNAMIC per-event gap "
    "(purchase 40 min, other events 15) via F.session_window over a "
    "gap expression; the oracle generalizes gaps-and-islands to a "
    "running max of interval ENDS — session end is max(ts+gap) over "
    "members, events join strictly before that frontier (late r8; "
    "SURVEY §2.11 ext)",
)
def q_session_windows_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io.readers import load_table

    ev = load_table(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "purchase", F.lit("40 minutes")).otherwise(
        F.lit("15 minutes")
    )
    return (
        ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# STREAMING session windows (late r8): session_counts has been the
# operator since r3 but only its batch twin was registered — append
# mode emits a session only once the WATERMARK passes its end, so the
# raw emitted set depends on internal frontier mechanics (measured:
# emitted == batch EXACTLY on the closed region {end <= max(ts)-2h},
# boundary sessions withheld). The registered contract therefore
# filters BOTH sides at a frontier strictly inside the watermark
# (max(ts) - 2h - 1min): every session the stream may legally have
# flushed or withheld near the boundary is excluded on both sides —
# the same determinism device as the stream-stream join cutoffs.
# ---------------------------------------------------------------------------

_STREAM_SESSION_ORACLE = """
WITH gapped AS (
    SELECT user_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
islands AS (
    SELECT user_id, ts,
           sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
           ) AS session_id
    FROM gapped
),
sess AS (
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM islands
    GROUP BY user_id, session_id
)
SELECT user_id, session_start, session_end, n_events
FROM sess
WHERE session_end <= (SELECT max(ts) - INTERVAL 2 HOUR - INTERVAL 1 MINUTE
                      FROM events)
"""


@register(
    "streaming_session_windows",
    _STREAM_SESSION_ORACLE,
    doc="per-user session windows on an arriving event stream (append "
    "mode: a session emits only when the watermark passes its end), "
    "deterministically compared on the closed region — both engine "
    "and oracle keep sessions ending at least watermark-delay+margin "
    "before max event time, the stream-stream-join frontier device "
    "(late r8; SURVEY §2.11)",
)
def q_streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io.readers import load_table

    staged = _stage_events_dir(sf_dir)
    stream = SE.read_event_stream(spark, staged)
    out = _run_to_table(
        spark, SE.session_counts(stream, "30 minutes"), "append", src_dir=staged
    )
    cutoff = (
        load_table(spark, sf_dir, "events")
        .agg((F.max("ts") - F.expr("INTERVAL 2 HOURS 1 MINUTE")).alias("c"))
        .collect()[0]["c"]
    )  # one scalar, k-bounded driver collect like the kmeans seeds
    return out.where(F.col("session_end") <= F.lit(cutoff)).select(
        "user_id",
        "session_start",
        "session_end",
        F.col("n_events").cast("bigint").alias("n_events"),
    )


# Streaming twin of the DYNAMIC-gap sessions: F.session_window over a
# per-event gap expression rides Structured Streaming unchanged, and
# the same closed-region frontier device makes append emission
# deterministic — the oracle is the dynamic-gap gaps-and-islands
# replay filtered at the identical cutoff.

_STREAM_DYN_SESSION_ORACLE = """
WITH e AS (
    SELECT user_id, ts, event_id,
           ts + CASE WHEN event_type = 'purchase'
                THEN INTERVAL 40 MINUTE ELSE INTERVAL 15 MINUTE END AS ed
    FROM events
),
flagged AS (
    SELECT user_id, ts, ed, event_id,
           CASE WHEN max(ed) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ) IS NULL
                OR ts >= max(ed) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           THEN 1 ELSE 0 END AS new_sess
    FROM e
),
sess AS (
    SELECT user_id, ts, ed,
           sum(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
),
agg AS (
    SELECT user_id,
           min(ts) AS session_start,
           max(ed) AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, sid
)
SELECT user_id, session_start, session_end, n_events
FROM agg
WHERE session_end <= (SELECT max(ts) - INTERVAL 2 HOUR - INTERVAL 1 MINUTE
                      FROM events)
"""


@register(
    "streaming_session_dynamic_gap",
    _STREAM_DYN_SESSION_ORACLE,
    doc="DYNAMIC-gap session windows on an arriving stream (purchase "
    "40 min, others 15 — per-event gap expression in streaming "
    "session_window), append emission compared deterministically on "
    "the closed region behind the watermark frontier; oracle = the "
    "dynamic gaps-and-islands replay at the identical cutoff "
    "(late r8; SURVEY §2.11)",
)
def q_streaming_session_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io.readers import load_table

    staged = _stage_events_dir(sf_dir)
    stream = SE.read_event_stream(spark, staged)
    gap = F.when(F.col("event_type") == "purchase", F.lit("40 minutes")).otherwise(
        F.lit("15 minutes")
    )
    windowed = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    out = _run_to_table(spark, windowed, "append", src_dir=staged)
    cutoff = (
        load_table(spark, sf_dir, "events")
        .agg((F.max("ts") - F.expr("INTERVAL 2 HOURS 1 MINUTE")).alias("c"))
        .collect()[0]["c"]
    )
    return out.where(F.col("session_end") <= F.lit(cutoff))


# ---------------------------------------------------------------------------
# MULTI-BATCH incremental processing (late r8): every other streaming
# query stages ONE file, so availableNow runs ONE data microbatch and
# the watermark advances once — the cross-batch machinery (watermark
# ADVANCEMENT, incremental append emission, state carried between
# batches, sessions spanning batch boundaries) never executes. This
# query stages the events table as FOUR ts-ordered weekly chunks and
# reads with maxFilesPerTrigger=1, so the engine runs 4 microbatches
# with a genuinely advancing watermark; sessions that straddle a
# chunk boundary must be merged from carried state. The result
# contract is the same closed-region frontier compare — if cross-
# batch state merge or eviction is wrong, the hash breaks. A
# companion test pins that >= 4 microbatches actually ran.
# ---------------------------------------------------------------------------


def _stage_events_multibatch(spark: SparkSession, sf_dir: str) -> str:
    """Stage events as ts-ordered weekly chunk files (0.parquet..),
    oldest mtime first so FileStreamSource processes them in order.
    Unlike the symlink staging these are REAL copies, so the dir is
    atexit-reaped — repeated bench/sweep runs must not accumulate
    corpus-sized chunk sets in /tmp (same rule as the r7 signature
    stores)."""
    import atexit
    import shutil
    import glob as _glob

    from ..io.readers import load_table

    d = tempfile.mkdtemp(prefix="sg_events_mb_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events")
    cuts = ["2024-01-08", "2024-01-15", "2024-01-22"]
    # ONE pass over events instead of four (r14 optimization, guide
    # §1.2 step 1 "don't compute things you throw away": the old loop
    # ran 4 filter+coalesce+write jobs, each rescanning the table).
    # coalesce(1) + partitionBy writes one file per chunk value from a
    # single task; the partition column stays OUT of the file schema,
    # so each chunk file holds exactly the same rows/columns as the
    # old per-filter write (row order within a chunk is not part of
    # any contract — every consumer aggregates or resolves by key).
    chunk = (
        F.when(F.col("ts") < cuts[0], 0)
        .when(F.col("ts") < cuts[1], 1)
        .when(F.col("ts") < cuts[2], 2)
        .otherwise(3)
    )
    tmp = f"{d}/_w"
    (
        ev.withColumn("__chunk__", chunk)
        .coalesce(1)
        .write.partitionBy("__chunk__")
        .mode("overwrite")
        .parquet(tmp)
    )
    for i in range(4):
        part = _glob.glob(f"{tmp}/__chunk__={i}/part-*.parquet")
        if part:
            shutil.move(part[0], f"{d}/{i:03d}.parquet")
            os.utime(f"{d}/{i:03d}.parquet", (1700000000 + i, 1700000000 + i))
    shutil.rmtree(tmp)
    return d


@register(
    "streaming_sessions_multibatch",
    _STREAM_SESSION_ORACLE,  # same contract as the single-batch twin
    doc="the session-window stream processed as FOUR ts-ordered "
    "microbatches (weekly chunk files, maxFilesPerTrigger=1): the "
    "watermark advances per batch, append emission is genuinely "
    "incremental, and sessions straddling chunk boundaries merge from "
    "carried state — same closed-region oracle as the single-batch "
    "twin, so a cross-batch state bug breaks the hash (late r8; "
    "SURVEY §2.11)",
)
def q_streaming_sessions_multibatch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..io.readers import load_table

    from ..io.readers import _normalize_event_ts

    staged = _stage_events_multibatch(spark, sf_dir)
    schema = spark.read.parquet(staged).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
        .withColumn("ts", _normalize_event_ts(schema["ts"].dataType))
    )
    out = _run_to_table(
        spark, SE.session_counts(stream, "30 minutes"), "append", src_dir=staged
    )
    cutoff = (
        load_table(spark, sf_dir, "events")
        .agg((F.max("ts") - F.expr("INTERVAL 2 HOURS 1 MINUTE")).alias("c"))
        .collect()[0]["c"]
    )
    return out.where(F.col("session_end") <= F.lit(cutoff)).select(
        "user_id",
        "session_start",
        "session_end",
        F.col("n_events").cast("bigint").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Streaming twin of the indicator family's VWAP (late r8): daily
# per-symbol VWAP computed ON THE STREAM — tumbling 1-day event-time
# windows over a lineitem file-stream, exact integer num/den
# fractions, complete mode so the oracle is the plain batch rollup
# (same contract as streaming_tumbling_counts; production would run
# append+watermark with the frontier compare, but the EXACTNESS
# exhibit wants every window). Day boundaries are safe because
# harden() pins the session to UTC.
# ---------------------------------------------------------------------------

_STREAMING_VWAP_ORACLE = f"""
WITH px AS (
    SELECT l_partkey AS symbol,
           date_trunc('day', l_shipdate) AS d,
           CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
           CAST(floor(l_quantity) AS BIGINT) AS qty
    FROM lineitem
)
SELECT strftime(d, '{_SQL_TS_FMT}') AS window_start,
       symbol,
       CAST(sum(cents * qty) AS BIGINT) AS num,
       CAST(sum(qty) AS BIGINT) AS den
FROM px
GROUP BY d, symbol
"""


@register(
    "streaming_vwap_daily",
    _STREAMING_VWAP_ORACLE,
    doc="daily per-symbol VWAP on a lineitem file-stream: tumbling "
    "1-day event-time windows, exact BIGINT num/den fractions, "
    "complete mode == batch rollup bit-for-bit — the indicator "
    "family's streaming deployment shape (late r8)",
)
def q_streaming_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _stage_table_dir(sf_dir, "lineitem")
    schema = spark.read.parquet(path).schema
    raw = spark.readStream.schema(schema).parquet(path)
    px = raw.select(
        F.col("l_partkey").alias("symbol"),
        F.col("l_shipdate").cast("timestamp").alias("ts"),
        F.floor(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        F.floor(F.col("l_quantity")).cast("bigint").alias("qty"),
    )
    agg = px.groupBy(F.window("ts", "1 day").alias("w"), "symbol").agg(
        F.sum(F.col("cents") * F.col("qty")).alias("num"),
        F.sum("qty").alias("den"),
    )
    # heavy_state: ~596k state rows (symbol x day) behind a ~15 MB
    # staged source — see _stream_shuffle_partitions (r15 A/B).
    out = _run_to_table(spark, agg, "complete", src_dir=path, heavy_state=True)
    return out.select(
        F.date_format(F.col("w.start"), _TS_FMT).alias("window_start"),
        "symbol",
        "num",
        "den",
    )


# ---------------------------------------------------------------------------
# Streaming CDC apply (late r8): the change-data-capture production
# shape the suite didn't yet have END TO END on a stream — each
# microbatch MERGE-upserts the keyed state store (last-write-wins per
# user), so the final store is the net effect of replaying the feed
# in order. Four ts-ordered chunks with maxFilesPerTrigger=1 make the
# merge genuinely cross-batch: a key updated in batches 0 and 3 must
# resolve to batch 3's row THROUGH the store, not within one batch.
# Oracle = last event per key over the whole feed (pure batch SQL).
#
# Scale design: the per-batch merge is one key-shuffle over
# |store ∪ batch|; the store rewrite-per-batch is the documented
# test-scale simplification — production buckets the store by key and
# rewrites only matched buckets (exactly the r7 signature-store
# layout, io/writers.py bucketed write), keeping per-batch cost
# O(batch + touched buckets), not O(store).
# ---------------------------------------------------------------------------

# Key = device_id (synthetic device dimension): the top 14 bits of a
# xor-multiply SCRAMBLE of event_id (lowbias32-shaped; the input is
# reduced mod 2^32 before the first multiply and every later stage is
# already < 2^32, so with constants < 2^31 every product stays < 2^63
# — exact int64 arithmetic in both engines at ANY event_id).
# Two design lessons are load-bearing here:
# 1. A plain modulus would not work — event_id is assigned in ts
#    order, so a cycling key refreshes every device in the final
#    chunk (user_id — 15 keys, all active to the end — never
#    exercises the carry either).
# 2. Neither would the original Knuth multiplicative hash
#    (id * 2654435761 >> k): the golden-ratio step is a LOW-
#    DISCREPANCY sequence, so any contiguous id window longer than
#    the key space covers EVERY key — at sf0.01/sf0.1 the final
#    chunk touched all 256 devices and the driver's hash checks
#    never exercised the cross-batch carry (a merge that dropped
#    the store entirely would still have hashed green there; only
#    the sf0.001 mechanism test saw carried keys). The scramble
#    makes per-chunk device occupancy binomial: ~16% of devices
#    carry at sf0.1, ~64% at sf0.01, ~73% at sf0.001 — nonzero at
#    every checked scale, pinned by tests/test_streaming_semantics
#    ::test_cdc_carry_present_at_driver_scale.


def _cdc_device_expr(xor, idiv, id_expr: str = "event_id") -> str:
    """The shared device-key derivation, rendered per engine (DuckDB
    spells bitwise xor ``xor(a,b)`` and int-div ``//``; Spark ``^``
    and ``div``) from ONE structure so the pair cannot diverge.
    ``id_expr`` lets the scale probe key on a per-replica base id."""
    x1 = f"(({xor(id_expr, idiv(id_expr, 65536))}) % 4294967296)"
    x2 = f"((({x1}) * 2146121005) % 4294967296)"
    x3 = xor(x2, idiv(x2, 32768))
    x4 = f"((({x3}) * 1935202711) % 4294967296)"
    x5 = xor(x4, idiv(x4, 65536))
    return idiv(f"({x5})", 262144)


_CDC_DEVICE_DUCK = _cdc_device_expr(
    lambda a, b: f"xor({a}, {b})", lambda a, b: f"(({a}) // {b})"
)
_CDC_DEVICE_SPARK = _cdc_device_expr(
    lambda a, b: f"(({a}) ^ ({b}))", lambda a, b: f"(({a}) div {b})"
)

_CDC_ORACLE = f"""
WITH keyed AS (
    SELECT {_CDC_DEVICE_DUCK}
               AS device_id,
           ts, event_id, value
    FROM events
),
latest AS (
    SELECT device_id,
           epoch_ms(ts) AS ms,
           CAST(floor(value * 100) AS BIGINT) AS cents,
           row_number() OVER (
               PARTITION BY device_id ORDER BY ts DESC, event_id DESC
           ) AS rn
    FROM keyed
)
SELECT device_id,
       CAST(ms AS BIGINT) AS last_ms,
       cents AS last_cents
FROM latest WHERE rn = 1
"""


# Set by q_streaming_cdc_upsert after each run: count of non-empty
# microbatches the CDC merge applied (mechanism-test observable).
_LAST_CDC_DATA_BATCHES: int = -1


def _keep_newest(df: DataFrame, key: str = "device_id") -> DataFrame:
    """Last-write-wins resolve: keep the (ts, event_id)-max row per
    key. r14 optimization (guide §2.3 "aggregate before you shuffle"):
    a grouped ``max_by`` replaces the old row_number window — partial
    map-side aggregation shrinks the shuffle to one in-flight row per
    key per map task and drops the per-partition sort; at 100 TB the
    merge shuffle carries keys+payload once instead of every batch
    row. Picks the IDENTICAL row as the window did: (ts, event_id) is
    unique per key (event_id globally unique), and lexicographic
    struct max == ORDER BY ts DESC, event_id DESC LIMIT 1."""
    others = [c for c in df.columns if c != key]
    kept = df.groupBy(key).agg(
        F.max_by(
            F.struct(*[F.col(c) for c in others]),
            F.struct(F.col("ts"), F.col("event_id")),
        ).alias("__kept__")
    )
    return kept.select(
        key, *[F.col(f"__kept__.{c}").alias(c) for c in others]
    )


@register(
    "streaming_cdc_upsert_multibatch",
    _CDC_ORACLE,
    doc="CDC apply on a stream: four ts-ordered microbatches "
    "(maxFilesPerTrigger=1), each foreachBatch MERGE-upserting a "
    "device-keyed parquet store (last-write-wins by ts, event_id); "
    "the final store must equal the batch last-event-per-key rollup "
    "— cross-batch override resolution goes THROUGH the store, so a "
    "merge bug breaks the hash (late r8; SURVEY §2.11)",
)
def q_streaming_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import shutil

    from ..io.readers import _normalize_event_ts

    staged = _stage_events_multibatch(spark, sf_dir)
    schema = spark.read.parquet(staged).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
        .withColumn("ts", _normalize_event_ts(schema["ts"].dataType))
        .select(
            F.expr(_CDC_DEVICE_SPARK).alias("device_id"),
            "ts",
            "event_id",
            "value",
        )
    )

    # Per-invocation store root (no cross-query sharing — the r7
    # _STORE_DIR concurrency lesson), reaped at exit.
    base = tempfile.mkdtemp(prefix="sg_cdc_store_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    state: dict[str, str | None] = {"dir": None}

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        latest = _keep_newest(batch_df)
        if state["dir"] is not None:
            old = batch_df.sparkSession.read.parquet(state["dir"])
            latest = _keep_newest(old.unionByName(latest))
        new_dir = f"{base}/v{batch_id}"
        latest.write.mode("overwrite").parquet(new_dir)
        state["dir"] = new_dir

    q = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", _tmp_ckpt())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # Observable for the mechanism test: how many DATA microbatches the
    # merge actually applied — if staging or maxFilesPerTrigger ever
    # collapses the feed into one batch, last-write-wins within it
    # would still hash green while the cross-batch carry path silently
    # stops being exercised.
    global _LAST_CDC_DATA_BATCHES
    _LAST_CDC_DATA_BATCHES = sum(
        1 for p in q.recentProgress if p["numInputRows"] > 0
    )

    final = spark.read.parquet(state["dir"])
    return final.select(
        "device_id",
        F.unix_millis("ts").alias("last_ms"),
        F.floor(F.col("value") * 100).cast("bigint").alias("last_cents"),
    )


# Per-run observable for the bucketed variant's mechanism test: the
# touched-bucket list each applied batch rewrote.
_LAST_CDC_TOUCHED: list[list[int]] = []

_CDC_N_BUCKETS = 64


@register(
    "streaming_cdc_upsert_bucketed",
    _CDC_ORACLE,
    doc="the CDC apply's PRODUCTION store path (r10; closes the "
    "documented test-scale simplification in the sibling query): the "
    "store is Hive-partitioned by bucket = device_id % 64, and each "
    "microbatch merge rewrites ONLY the buckets the batch touches — "
    "old rows of touched buckets read back under directory-level "
    "partition pruning, last-write-wins resolve, dynamic "
    "partitionOverwriteMode write. Per-batch cost O(batch + touched "
    "buckets), not O(store); untouched buckets stay byte-identical "
    "on disk (pinned in tests). Same oracle as the whole-store twin "
    "— the two plans must agree bit-for-bit",
)
def q_streaming_cdc_upsert_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import atexit
    import shutil

    from ..io.readers import _normalize_event_ts
    from ..io.writers import merge_touched_partitions

    staged = _stage_events_multibatch(spark, sf_dir)
    schema = spark.read.parquet(staged).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
        .withColumn("ts", _normalize_event_ts(schema["ts"].dataType))
        .select(
            F.expr(_CDC_DEVICE_SPARK).alias("device_id"),
            "ts",
            "event_id",
            "value",
        )
    )

    store_dir = tempfile.mkdtemp(prefix="sg_cdc_bstore_") + "/store"
    atexit.register(
        shutil.rmtree, os.path.dirname(store_dir), ignore_errors=True
    )
    _LAST_CDC_TOUCHED.clear()

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        latest = _keep_newest(batch_df).withColumn(
            "bucket", F.pmod("device_id", F.lit(_CDC_N_BUCKETS)).cast("int")
        )
        touched = merge_touched_partitions(
            store_dir, latest, "bucket", _keep_newest
        )
        _LAST_CDC_TOUCHED.append(touched)

    q = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", _tmp_ckpt())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    final = spark.read.parquet(store_dir)
    return final.select(
        "device_id",
        F.unix_millis("ts").alias("last_ms"),
        F.floor(F.col("value") * 100).cast("bigint").alias("last_cents"),
    )


# Per-run observable for the file-stats variant's mechanism test:
# the merge stats dict each applied batch produced.
_LAST_CDC_FILE_STATS: list[dict] = []


@register(
    "streaming_cdc_upsert_filestats",
    _CDC_ORACLE,
    doc="the CDC store's FILE-level merge path (r11; r10 verdict item "
    "2): at a 10^8-10^9-key store the touched buckets themselves get "
    "large, and a partition-overwrite merge must read and rewrite "
    "every row of a touched bucket. Here each bucket holds several "
    "key-range-clustered parquet files; the merge reads each file's "
    "FOOTER min/max, selects only the files whose key range the "
    "batch's keys actually hit, resolves last-write-wins over "
    "(selected files ∪ batch), appends the result as new clustered "
    "files and swaps an atomic MANIFEST generation (replaced files "
    "retained one generation for lagging readers, then GC'd) — "
    "read-back tracks touched KEYS, not touched buckets, and "
    "concurrent readers always see a complete generation. Same "
    "oracle as both store twins",
)
def q_streaming_cdc_upsert_filestats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..io.manifest_store import merge_manifest_store, read_store
    from ..io.readers import _normalize_event_ts

    staged = _stage_events_multibatch(spark, sf_dir)
    schema = spark.read.parquet(staged).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
        .withColumn("ts", _normalize_event_ts(schema["ts"].dataType))
        .select(
            F.expr(_CDC_DEVICE_SPARK).alias("device_id"),
            "ts",
            "event_id",
            "value",
        )
    )

    store_dir = tempfile.mkdtemp(prefix="sg_cdc_fstore_") + "/store"
    atexit.register(
        shutil.rmtree, os.path.dirname(store_dir), ignore_errors=True
    )
    _LAST_CDC_FILE_STATS.clear()

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        latest = _keep_newest(batch_df).withColumn(
            "bucket", F.pmod("device_id", F.lit(_CDC_N_BUCKETS)).cast("int")
        )
        stats = merge_manifest_store(
            store_dir, latest, "device_id", "bucket", _keep_newest
        )
        _LAST_CDC_FILE_STATS.append(stats)

    q = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", _tmp_ckpt())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    final = read_store(spark, store_dir)
    return final.select(
        "device_id",
        F.unix_millis("ts").alias("last_ms"),
        F.floor(F.col("value") * 100).cast("bigint").alias("last_cents"),
    )


_CDC_N_TENANTS = 8

_CDC_TENANT_ORACLE = f"""
WITH keyed AS (
    SELECT (user_id % {_CDC_N_TENANTS}) AS tenant,
           {_CDC_DEVICE_DUCK}
               AS device_id,
           ts, event_id, value
    FROM events
),
latest AS (
    SELECT tenant, device_id,
           epoch_ms(ts) AS ms,
           CAST(floor(value * 100) AS BIGINT) AS cents,
           row_number() OVER (
               PARTITION BY tenant, device_id
               ORDER BY ts DESC, event_id DESC
           ) AS rn
    FROM keyed
)
SELECT tenant,
       device_id,
       CAST(ms AS BIGINT) AS last_ms,
       cents AS last_cents
FROM latest WHERE rn = 1
"""

# Set by q_streaming_cdc_upsert_tenant: per-batch manifest merge stats
# and the store dir (mechanism-test observables, like
# _LAST_CDC_FILE_STATS).
_LAST_CDC_TENANT_STATS: list[dict] = []
_LAST_CDC_TENANT_STORE: list[str] = []


@register(
    "streaming_cdc_upsert_tenant",
    _CDC_TENANT_ORACLE,
    doc="the MULTI-TENANT CDC store (r11 starter: per-tenant range "
    "clustering): row identity is the COMPOSITE (tenant, device) — "
    "realized as one long ck = tenant*2^32 + device so the manifest "
    "store's generic key_col range-clusters tenant-FIRST — and the "
    "store is bucketed by tenant. When hot keys cluster per tenant, "
    "a batch's read-back prunes to the touched tenants' files "
    "(scripts/tenant_probe.py: 3.1%% of store bytes vs 50%% for the "
    "bare-key layout at 12.8M rows); a bare per-tenant key, which "
    "every tenant shares, cannot prune below its bucket set. Also "
    "runs the store with time-based dead-file retention "
    "(retention_seconds=3600: replaced files stay for lagging "
    "readers, carried in the manifest's dead list with dead_since "
    "timestamps) — results identical, manifest-pinned reads see only "
    "the live generation. Same last-write-wins contract as the other "
    "CDC twins, partitioned by (tenant, device)",
)
def q_streaming_cdc_upsert_tenant(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..io.manifest_store import merge_manifest_store, read_store
    from ..io.readers import _normalize_event_ts

    staged = _stage_events_multibatch(spark, sf_dir)
    schema = spark.read.parquet(staged).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
        .withColumn("ts", _normalize_event_ts(schema["ts"].dataType))
        .select(
            F.pmod("user_id", F.lit(_CDC_N_TENANTS)).alias("tenant"),
            F.expr(_CDC_DEVICE_SPARK).alias("device_id"),
            "ts",
            "event_id",
            "value",
        )
        .withColumn(
            "ck",
            F.col("tenant") * F.lit(1 << 32) + F.col("device_id"),
        )
    )

    def _keep_newest_ck(df: DataFrame) -> DataFrame:
        # Same grouped-max_by resolve as _keep_newest, keyed on the
        # packed (tenant, device) key.
        return _keep_newest(df, key="ck")

    store_dir = tempfile.mkdtemp(prefix="sg_cdc_tstore_") + "/store"
    atexit.register(
        shutil.rmtree, os.path.dirname(store_dir), ignore_errors=True
    )
    _LAST_CDC_TENANT_STATS.clear()
    _LAST_CDC_TENANT_STORE.clear()
    _LAST_CDC_TENANT_STORE.append(store_dir)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        latest = _keep_newest_ck(batch_df).withColumn(
            "bucket", F.col("tenant").cast("int")
        )
        stats = merge_manifest_store(
            store_dir,
            latest,
            "ck",
            "bucket",
            _keep_newest_ck,
            retention_seconds=3600.0,
        )
        _LAST_CDC_TENANT_STATS.append(stats)

    q = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", _tmp_ckpt())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    final = read_store(spark, store_dir)
    return final.select(
        "tenant",
        "device_id",
        F.unix_millis("ts").alias("last_ms"),
        F.floor(F.col("value") * 100).cast("bigint").alias("last_cents"),
    )


# Per-run observables for the sharded-manifest twin (merge stats incl.
# phases, and the store dir for mechanism tests).
_LAST_CDC_SHARDED_STATS: list[dict] = []
_LAST_CDC_SHARDED_STORE: list[str] = []


@register(
    "streaming_cdc_upsert_sharded",
    _CDC_ORACLE,
    doc="the file-level CDC store behind a SHARDED manifest (r12): the "
    "root _manifest.json is an Iceberg-style manifest LIST of "
    "per-shard descriptors over immutable shard JSONs, buckets hash "
    "to shards, and each micro-batch merge loads and rewrites ONLY "
    "the shards covering its touched buckets — per-commit metadata "
    "work tracks touched buckets instead of total file count "
    "(measured 1.7 -> 0.46 s per commit at the 200k-file 100 TB "
    "point; scripts/manifest_scale_probe.py). Same last-write-wins "
    "contract and oracle as the flat filestats twin, so a sharding "
    "bug in selection, validation, or shard GC breaks the hash",
)
def q_streaming_cdc_upsert_sharded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..io.manifest_store import merge_manifest_store, read_store
    from ..io.readers import _normalize_event_ts

    staged = _stage_events_multibatch(spark, sf_dir)
    schema = spark.read.parquet(staged).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
        .withColumn("ts", _normalize_event_ts(schema["ts"].dataType))
        .select(
            F.expr(_CDC_DEVICE_SPARK).alias("device_id"),
            "ts",
            "event_id",
            "value",
        )
    )

    store_dir = tempfile.mkdtemp(prefix="sg_cdc_shstore_") + "/store"
    atexit.register(
        shutil.rmtree, os.path.dirname(store_dir), ignore_errors=True
    )
    _LAST_CDC_SHARDED_STATS.clear()
    _LAST_CDC_SHARDED_STORE.clear()
    _LAST_CDC_SHARDED_STORE.append(store_dir)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        latest = _keep_newest(batch_df).withColumn(
            "bucket", F.pmod("device_id", F.lit(_CDC_N_BUCKETS)).cast("int")
        )
        stats = merge_manifest_store(
            store_dir,
            latest,
            "device_id",
            "bucket",
            _keep_newest,
            manifest_shards=8,
        )
        _LAST_CDC_SHARDED_STATS.append(stats)

    q = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", _tmp_ckpt())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    final = read_store(spark, store_dir)
    return final.select(
        "device_id",
        F.unix_millis("ts").alias("last_ms"),
        F.floor(F.col("value") * 100).cast("bigint").alias("last_cents"),
    )
