#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE compact JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...small...}, "sf": <sf>, "detail": "BENCH_DETAIL.json"}

Execution is measured with the noop sink (full plan runs, no
driver-side result transfer). A small warmup query absorbs JVM/codegen
startup; recommended plans are timed best-of-2 to damp background-load
noise on the shared host.

Three queries are deliberate EXHIBITS — correctness baselines whose
plans are documented scale-killers, kept so the bucketed/declarative
variants have something to be measured against:

- grouped_map_value_diff: Arrow applyInPandas recomputing what
  flagship_window_metrics does declaratively;
- similarity_bruteforce_topk: broadcast x crossJoin full-corpus scan
  (baseline for similarity_lsh_topk / similarity_ivf_topk);
- dedup_ngram_jaccard: exact all-pairs baseline (run at sf0.01 — its
  argument is the RATIO vs the bucketed/prefix plans, r4 decision).

They are timed once and reported in the detail file under
``exhibits``; excluded from the headline number.

The headline is split in two. ``value`` is the 55-plan HEADLINE CORE
(``CORE_QUERIES``): the reference surface plus exactly one
representative per operator family, fixed so it stays comparable
across rounds. ``value_full_suite`` is the full folded union
(``BENCH_QUERIES``); new plans fold in there. Every artifact stamps
``host_st_ms`` and ``host_mt_ms`` (single-thread and all-cores host
fingerprints), and per streaming plan a StreamingQueryListener splits
the wall into the data wall (summed ``triggerExecution``) and
``sched_wall_s`` (plan wall minus that), carried per plan in
BENCH_DETAIL.json under ``streaming_split`` and summed on the compact
line as ``stream_sched_wall_s``/``stream_exec_s``.

The round-by-round history of the suite (folds, pre-registered
anchors, the host migration and the parallel-capacity swing) is in
BASELINE.md §18.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sp500_stock_etl_spark.plans.registry import all_queries  # noqa: E402
from sp500_stock_etl_spark.session import get_spark  # noqa: E402

# Documented baseline/exhibit plans — timed but excluded from the
# headline total (see module docstring).
EXHIBIT_QUERIES = {
    "grouped_map_value_diff",
    "similarity_bruteforce_topk",
    "dedup_ngram_jaccard",
}

# The full bench suite (BASELINE.md bench set): every operator family;
# BASELINE.md §19 records which round added which plans.
BENCH_QUERIES = [
    "flagship_window_metrics",
    "filtered_scan_projection",
    "qa_aggregate",
    "grouped_agg_pricing",
    "rollup_agg",
    "broadcast_star_join",
    "fact_fact_join",
    "global_sort_topk",
    "union_all_distinct",
    "rolling_avg_sma7",
    "asof_join_events",
    "hourly_event_agg",
    "dedup_exact",
    "dedup_minhash_lsh",
    "similarity_bruteforce_topk",
    "similarity_lsh_topk",
    "text_quality_stats",
    "session_window_agg",
    "streaming_tumbling_counts",
    "grouping_sets_agg",
    "exact_quantiles",
    "range_interval_join",
    "token_frequency_topn",
    "grouped_map_value_diff",
    "streaming_dedup_keys",
    "corpus_curation_pipeline",
    "star_chain_q5",
    "tpch_q6_forecast_revenue",
    "similarity_join_corpus",
    "gap_fill_forward",
    "dedup_ngram_jaccard",
    "corpus_chunking",
    "corpus_boilerplate_segments",
    "corpus_sequence_packing",
    "dedup_connected_components",
    "similarity_ivf_topk_nprobe2",
    "sma_crossover_signals",
    "max_drawdown_per_symbol",
    "feature_outlier_fences",
    "scd2_event_history",
    "weighted_avg_pricing_decimal",
    "streaming_dedup_keys_ttl",
    "streaming_tumbling_counts_rocksdb",
    "embedding_quantize_int8",
    "token_heavy_hitters_sketch",
    "event_funnel_conversion",
    "cohort_retention_weekly",
    "corpus_training_build",
    "ohlc_hourly_resample",
    "vwap_per_symbol_day",
    "tpch_q9_profit",
    "tpch_q12_shipmode",
    "streaming_ohlc_bars_append",
    "text_repetition_stats",
    "corpus_decontamination_bloom",
    "corpus_unigram_stats",
    "corpus_boilerplate_rewrite",
    "bucketed_fact_join",
    "streaming_stream_stream_left_join",
    "corpus_tfidf_topterms",
    "dedup_semantic_clusters",
    "dedup_prefix_jaccard",
    "xml_roundtrip_agg",
    "corpus_reservoir_sample",
    "corpus_train_val_test_split",
    "triangle_count_basket",
    "entity_resolution_customers",
    "schema_evolution_scan",
    "dedup_connected_components_star",
    "zorder_layout_stats",
    "corpus_bpe_merges",
    "asof_join_tolerance",
    "asof_join_forward",
    "asof_join_nearest",
    "window_deduped_latest_snapshot",
    "merge_upsert_customers",
    "feature_histogram_bins",
    "corpus_domain_mix_report",
    "corpus_url_canonical_dedup",
    "interval_overlap_agg",
    "corpus_bigram_lm",
    "zorder_pruning_demo",
    "corpus_pagerank",
    "corpus_bpe_encode",
    "embedding_pq_codebooks",
    "corpus_lm_quality_score",
    "jsonl_sink_roundtrip_agg",
    "corpus_curation_v2",
    "dedup_keep_best_quality",
    "corpus_budget_fill",
    "streaming_jsonl_sink_roundtrip",
    "gap_fill_interpolate",
    "corpus_decontamination_overlap",
    "feature_equidepth_histogram",
    "embedding_pq_encode_init",
    "dedup_incremental_refresh",
    "dedup_signature_store_roundtrip",
    "tpcds_q67_rollup_topk",
    "tpcds_q51_cumulative_max",
    "corpus_doc_embedding_hybrid_dedup",
    "dedup_exact_substring",
    "kmeans_assign_init",
    "tpcds_q97_channel_overlap",
    "streaming_stream_stream_full_join",
    "incremental_agg_maintenance",
    "multimodal_resize_plan",
    "tpcds_q88_multiband_counts",
    "tpcds_q73_basket_counts",
    "tpcds_q93_returns_adjusted",
    "multimodal_resize_execute",
    "multimodal_pcm_chunk_execute",
    "streaming_stream_stream_right_join",
    "streaming_running_totals_final",
    "multimodal_decode_features",
    "tpcds_q38_channel_intersect",
    "tpcds_q87_channel_except",
    "tpcds_q14_cross_channel_items",
    "multimodal_jpeg_decode_execute",
    "multimodal_mjpeg_frame_decode",
    "quality_classifier_inference",
    "corpus_domain_mixture",
    "unpivot_measures_long",
    "streaming_quality_classifier",
    "quality_threshold_calibration",
    "multimodal_adpcm_decode_execute",
    "recursive_bom_rollup",
    "recursive_functional_walk",
    "lateral_topk_per_customer",
    "listagg_supplier_directory",
    "sql_udf_order_cents",
    "tpcds_q36_rollup_rank",
    "tpcds_q49_dual_rank_report",
    "quantile_sketch_certificate",
    "session_window_dynamic_gap",
    "streaming_session_windows",
    "arrow_native_batch_stats",
    "arrow_grouped_apply_stats",
    "arrow_scalar_udf_stats",
    "streaming_session_dynamic_gap",
    "streaming_sessions_multibatch",
    "basket_association_rules",
    "indicator_bollinger_bands",
    "indicator_rsi_cutler",
    "indicator_ewma_fold",
    "indicator_max_drawdown",
    "tpcds_q51_cumulative_crossover",
    "tpcds_q57_monthly_deviation",
    "indicator_advance_decline",
    "indicator_market_beta",
    "indicator_vwap_daily",
    "indicator_sma_backtest",
    "indicator_stochastic_k",
    "indicator_obv",
    "indicator_portfolio_var",
    "streaming_vwap_daily",
    "indicator_cusum_changepoint",
    "indicator_drawdown_duration",
    "indicator_candle_patterns",
    "indicator_runs_test",
    "indicator_twap_irregular",
    "indicator_trend_slope",
    "streaming_cdc_upsert_multibatch",
    "indicator_expected_shortfall",
    "indicator_portfolio_hhi",
    "indicator_risk_report",
    "tpcds_q80_channel_netting",
    "arrow_udtf_installments",
    "streaming_cdc_upsert_bucketed",
    "streaming_cdc_upsert_filestats",
    "streaming_cdc_upsert_tenant",
    "streaming_cdc_upsert_sharded",
]

# Plans reported under a SEPARATE key so the full-suite number stays
# comparable across runs. Names not yet registered are skipped so the
# harness runs mid-build.
NEW_QUERIES: list[str] = []

# The 55-plan HEADLINE CORE (growth policy in BASELINE.md §18):
# reference surface + one per operator family, fixed; `value` is the
# sum over exactly these. Anchor 64.601 s (same 55 plans in the
# BENCH_r09 driver detail). Every name must be in BENCH_QUERIES and
# not an exhibit.
CORE_QUERIES = [
    "flagship_window_metrics",
    "filtered_scan_projection",
    "qa_aggregate",
    "grouped_agg_pricing",
    "rollup_agg",
    "broadcast_star_join",
    "fact_fact_join",
    "global_sort_topk",
    "union_all_distinct",
    "rolling_avg_sma7",
    "asof_join_events",
    "hourly_event_agg",
    "dedup_exact",
    "dedup_minhash_lsh",
    "similarity_lsh_topk",
    "text_quality_stats",
    "session_window_agg",
    "streaming_tumbling_counts",
    "exact_quantiles",
    "range_interval_join",
    "token_frequency_topn",
    "streaming_dedup_keys",
    "corpus_curation_pipeline",
    "star_chain_q5",
    "tpch_q6_forecast_revenue",
    "similarity_join_corpus",
    "gap_fill_forward",
    "corpus_chunking",
    "dedup_connected_components",
    "similarity_ivf_topk_nprobe2",
    "embedding_quantize_int8",
    "tpch_q9_profit",
    "corpus_tfidf_topterms",
    "dedup_prefix_jaccard",
    "corpus_pagerank",
    "corpus_bpe_encode",
    "merge_upsert_customers",
    "corpus_reservoir_sample",
    "triangle_count_basket",
    "dedup_incremental_refresh",
    "dedup_signature_store_roundtrip",
    "tpcds_q67_rollup_topk",
    "corpus_doc_embedding_hybrid_dedup",
    "incremental_agg_maintenance",
    "multimodal_resize_execute",
    "multimodal_decode_features",
    "multimodal_pcm_chunk_execute",
    "quality_classifier_inference",
    "recursive_bom_rollup",
    "arrow_grouped_apply_stats",
    "streaming_sessions_multibatch",
    "streaming_cdc_upsert_multibatch",
    "indicator_bollinger_bands",
    "indicator_risk_report",
    "arrow_udtf_installments",
]


# Host fingerprints (single-thread + all-cores) live in
# sp500_stock_etl_spark/hostinfo.py — every probe stamps the same
# pair; BASELINE.md §18 carries the two incidents (r11 host
# migration, r12 parallel-capacity swing) that make BOTH necessary.
from sp500_stock_etl_spark.hostinfo import (  # noqa: E402
    host_mt_ms as _host_parallel_fingerprint_ms,
    host_st_ms as _host_fingerprint_ms,
)


class _StreamMeter:
    """Separates DATA-WALL from SCHEDULING-WALL for streaming plans
    (r12 verdict item 2): the r12 driver artifact's whole 1.09x
    full-suite overshoot sat in streaming plans whose sf0.1 cost is
    micro-batch scheduler machinery, not data work — stream-stream
    joins read 2x their quiet-run numbers while batch plans held
    ~1.1x. A StreamingQueryListener accumulates, per bench plan, the
    number of micro-batches and the sum of their ``triggerExecution``
    durations (the data wall); ``sched_wall_s = plan wall − exec_s``
    is then the scheduler/startup share, so anchor comparisons can
    subtract jitter that says nothing about the plans.

    Listener events are delivered on a background thread, so
    ``drain()`` waits (bounded) until every started query has
    terminated and the counters have gone quiet before a snapshot —
    the wait runs OUTSIDE the timed window."""

    def __init__(self) -> None:
        import threading

        self._lock = threading.Lock()
        self.batches = 0
        self.exec_ms = 0
        self.started = 0
        self.terminated = 0

    def reset(self) -> None:
        with self._lock:
            self.batches = 0
            self.exec_ms = 0
            self.started = 0
            self.terminated = 0

    def _snap(self) -> tuple:
        with self._lock:
            return (self.batches, self.exec_ms, self.started, self.terminated)

    def drain(self, timeout_s: float = 3.0) -> dict:
        deadline = time.perf_counter() + timeout_s
        prev = self._snap()
        while time.perf_counter() < deadline:
            time.sleep(0.05)
            cur = self._snap()
            if cur == prev and cur[2] == cur[3]:
                break
            prev = cur
        b, ms, s, t = self._snap()
        return {"batches": b, "exec_s": round(ms / 1000.0, 3), "queries": s}

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        meter = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                with meter._lock:
                    meter.started += 1

            def onQueryProgress(self, event):
                try:
                    ms = int(
                        event.progress.durationMs.get("triggerExecution", 0)
                    )
                except Exception:
                    ms = 0
                with meter._lock:
                    meter.batches += 1
                    meter.exec_ms += ms

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with meter._lock:
                    meter.terminated += 1

        return _L()


# The compact final line must survive the driver's 2000-char tail
# capture (round-5 incident): the line prints LAST, so it is intact in
# the tail iff its own length fits. Budget leaves a little headroom.
_LINE_BUDGET = 1980

# Family-prefix abbreviation for the per-core-query keys in the
# compact line (full 55 names are 1146 chars of keys alone — they do
# NOT fit the tail budget next to the fixed fields). The short->full
# map is emitted in BENCH_DETAIL.json under ``core_key_map`` and the
# two bench runs the driver makes (main + low-core) share it, so the
# PERF scaling block still matches keys exactly.
_KEY_PREFIXES: tuple[tuple[str, str], ...] = (
    ("streaming_", "st."),
    ("corpus_", "co."),
    ("dedup_", "dd."),
    ("indicator_", "in."),
    ("multimodal_", "mm."),
    ("similarity_", "si."),
    ("embedding_", "em."),
    ("tpcds_", "ds."),
    ("tpch_", "h."),
)


def _short_key(name: str) -> str:
    for prefix, abbrev in _KEY_PREFIXES:
        if name.startswith(prefix):
            return abbrev + name[len(prefix):]
    return name


def _compact_line(payload: dict, core_names: list[str]) -> str:
    """Serialize the compact bench line, degrading the per-core-query
    seconds map (r14 verdict item 1: the driver's PERF per_query/
    geomean/scaling blocks need real per-query timings, not section
    counts) before ever busting the tail-capture budget: 3-sig-digit
    values -> 2 decimals -> 1 decimal -> whole seconds -> counts-only.
    Counts keys stay in ``queries`` unconditionally (driver contract:
    entries are only ever ADDED, never removed)."""
    rungs = (
        lambda v: float("%.3g" % v),
        lambda v: round(v, 2),
        lambda v: round(v, 1),
        lambda v: int(round(v)),
        None,
    )
    for conv in rungs:
        q = dict(payload["queries"])
        if conv is not None:
            q.update(
                {
                    _short_key(n): conv(payload["_core_timings"][n])
                    for n in core_names
                    if n in payload["_core_timings"]
                }
            )
        line = json.dumps(
            {
                **{k: v for k, v in payload.items() if k != "_core_timings"},
                "queries": q,
            },
            separators=(",", ":"),
        )
        if len(line) <= _LINE_BUDGET:
            return line
    return line  # counts-only fallback always fits


def _fold_best_of(
    timings: dict[str, float],
    stream_split: dict[str, dict],
    name: str,
    wall: float,
    s: dict | None,
) -> None:
    """Fold a second best-of-2 run into the kept timings, keeping the
    streaming split CONSISTENT with the kept wall. ADVICE r13 (low):
    previously a faster second run whose listener drain produced no
    split (``s is None`` — events lost, or late past the drain
    timeout) kept the FIRST run's split against the SECOND run's
    wall, so that entry's ``sched_wall_s`` decomposed against a wall
    that was no longer the reported one and the suite-level
    ``stream_sched_wall_s``/``stream_exec_s`` no longer summed
    against ``full_suite``. A missing split is honest; a mismatched
    one is wrong — drop the stale entry when the kept wall has none."""
    if wall < timings[name]:
        timings[name] = wall
        if s is not None:
            stream_split[name] = s
        else:
            stream_split.pop(name, None)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("sp500-etl-bench")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    meter = _StreamMeter()
    try:
        spark.streams.addListener(meter.listener())
    except Exception:
        meter = None  # listener unsupported -> no split, bench still runs

    # Warmup: run the flagship at the smallest sf to absorb JVM startup,
    # and one tiny mapInPandas so the Python daemon + worker pool and
    # their numpy/pandas imports exist before any plan is timed (the
    # r9 fold put the codec-execute plans mid-suite, where a cold
    # Python spawn showed up as a phantom 3x on the first of them).
    registry["flagship_window_metrics"].spark_fn(
        spark, "/root/testdata/sf0.001"
    ).write.format("noop").mode("overwrite").save()
    from sp500_stock_etl_spark.operators.multimodal import synthetic_png_corpus

    synthetic_png_corpus(spark, 2).write.format("noop").mode(
        "overwrite"
    ).save()

    # The quadratic exhibit is benched at sf0.01 (see module docstring);
    # everything else at the bench sf.
    exhibit_sf_override = {"dedup_ngram_jaccard": "/root/testdata/sf0.01"}

    def run_once(name: str) -> tuple[float, dict | None]:
        q = registry[name]
        d = exhibit_sf_override.get(name, sf_dir)
        if meter is not None:
            meter.reset()
        t0 = time.perf_counter()
        q.spark_fn(spark, d).write.format("noop").mode("overwrite").save()
        wall = round(time.perf_counter() - t0, 3)
        # Data-wall/scheduling-wall split for plans that ran streaming
        # queries. The zero-snapshot fast path skips the bounded drain
        # for pure-batch plans (no listener events ever fire), so the
        # split costs the suite nothing outside streaming plans; the
        # drain itself runs OUTSIDE the timed window.
        stream = None
        if meter is not None and (
            name.startswith("streaming_") or meter._snap() != (0, 0, 0, 0)
        ):
            s = meter.drain()
            if s["queries"] or s["batches"]:
                s["sched_wall_s"] = round(max(wall - s["exec_s"], 0.0), 3)
                stream = s
        return wall, stream

    core_set = set(CORE_QUERIES)

    # Recommended plans are timed best-of-2 (the host carries background
    # load; min-of-N is the standard steady-state estimator). Exhibits
    # run once — they are contrast baselines, not the headline.
    timings: dict[str, float] = {}
    exhibit_timings: dict[str, float] = {}
    stream_split: dict[str, dict] = {}
    for name in BENCH_QUERIES:
        wall, s = run_once(name)
        if name in EXHIBIT_QUERIES:
            exhibit_timings[name] = wall
        else:
            timings[name] = wall
            if s is not None:
                stream_split[name] = s
    for name in list(timings):
        wall, s = run_once(name)
        _fold_best_of(timings, stream_split, name, wall, s)

    new_timings: dict[str, float] = {}
    for name in NEW_QUERIES:
        if name in registry:
            wall, s = run_once(name)
            new_timings[name] = wall
            if s is not None:
                stream_split[name] = s
    for name in list(new_timings):
        wall, s = run_once(name)
        _fold_best_of(new_timings, stream_split, name, wall, s)

    core_value = round(sum(timings[n] for n in CORE_QUERIES if n in timings), 3)
    full_suite = round(sum(timings.values()), 3)
    value_new = round(sum(new_timings.values()), 3)
    # full_value is single-scale: only exhibits timed at the bench sf
    # are added; scale-overridden exhibits report in the detail file.
    full = round(
        full_suite
        + sum(
            t
            for n, t in exhibit_timings.items()
            if n not in exhibit_sf_override
        ),
        3,
    )

    host_st_ms = _host_fingerprint_ms()
    host_mt_ms = _host_parallel_fingerprint_ms()
    # Suite-level streaming split (only plans in the suite's kept
    # best-of run count): the full-suite anchor ratio decomposes as
    # (batch walls + stream exec) + stream scheduling-wall; the last
    # term is scheduler jitter, not plan cost.
    in_suite = {n: s for n, s in stream_split.items() if n in timings}
    stream_sched_wall_s = round(
        sum(s["sched_wall_s"] for s in in_suite.values()), 3
    )
    stream_exec_s = round(sum(s["exec_s"] for s in in_suite.values()), 3)
    # Core line's OWN scheduler share (r13 verdict item 2): the r13
    # driver artifact breached its core band top purely on host state
    # (st 1.43x slow; streaming micro-batch scheduling is driver-
    # single-thread-bound), but the core line carried no term to show
    # it. Stamp the core's scheduler share and its data wall so a
    # band breach is attributable from the compact line alone; band
    # judgment is data-wall-based (BASELINE.md §15).
    core_sched_wall_s = round(
        sum(s["sched_wall_s"] for n, s in in_suite.items() if n in core_set),
        3,
    )
    core_data_wall_s = round(core_value - core_sched_wall_s, 3)
    detail = {
        "host_st_ms": host_st_ms,
        "host_mt_ms": host_mt_ms,
        "queries": timings,
        "queries_new": new_timings,
        "streaming_split": stream_split,
        "stream_sched_wall_s": stream_sched_wall_s,
        "stream_exec_s": stream_exec_s,
        "core_sched_wall_s": core_sched_wall_s,
        "core_data_wall_s": core_data_wall_s,
        "core_queries": CORE_QUERIES,
        "core_key_map": {_short_key(n): n for n in CORE_QUERIES},
        "exhibits": exhibit_timings,
        "exhibit_sf": {
            n: exhibit_sf_override.get(n, sf_dir).rsplit("sf", 1)[-1]
            for n in exhibit_timings
        },
        "value": core_value,
        "value_full_suite": full_suite,
        "value_new": value_new,
        "full_value": full,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)

    # ONE compact final line — must survive the driver's 2000-char
    # tail capture (round-5 verdict item 5). r15 change (r14 verdict
    # item 1): ``queries`` now carries the 55 per-CORE-query seconds
    # (3 significant digits) IN ADDITION to the section counts, so the
    # driver's PERF per_query/geomean/scaling blocks compute over real
    # timings instead of comparing counts to counts. The anchor
    # history that used to live in the metric string (r12 new-host
    # anchors: core 105.389s band 80.3-109.5, full suite 353.368s over
    # the 168-plan union) moved to BASELINE.md §14/§15/§18
    # to make room; methodology, timed set and scale are UNCHANGED.
    print(
        _compact_line(
            {
                "metric": "55-plan core wall-clock (noop sink; "
                "anchors BASELINE.md §14/§15; data-wall judging via "
                "*_sched_wall_s; core_key_map in detail)",
                "value": core_value,
                "unit": "sec",
                "queries": {
                    "n_core": sum(1 for n in CORE_QUERIES if n in timings),
                    "n_recommended": len(timings),
                    "n_new": len(new_timings),
                    "n_exhibits": len(exhibit_timings),
                },
                "_core_timings": {
                    n: timings[n] for n in CORE_QUERIES if n in timings
                },
                "value_full_suite": full_suite,
                "value_new": value_new,
                "full_value": full,
                "stream_sched_wall_s": stream_sched_wall_s,
                "stream_exec_s": stream_exec_s,
                "core_sched_wall_s": core_sched_wall_s,
                "core_data_wall_s": core_data_wall_s,
                "detail": "BENCH_DETAIL.json",
                "host_st_ms": host_st_ms,
                "host_mt_ms": host_mt_ms,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            },
            CORE_QUERIES,
        )
    )


if __name__ == "__main__":
    main()
