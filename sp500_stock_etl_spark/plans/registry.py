"""Query registry — the single source of truth wired into
``__spark_entry__.py`` (driver contract) and the parity tests.

Each entry: name → (spark_fn, oracle_sql | None). ``spark_fn`` takes
(spark, sf_dir) and returns a DataFrame; ``oracle_sql`` is ANSI SQL
DuckDB runs over the same parquet files. Column names/aliases MUST
match between the two (driver hashes values after sorting columns by
name). Entries with ``oracle_sql=None`` get a weaker rows-only check
(reserved for genuinely non-SQL-expressible ops).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..caching import release_caches
from ..session import harden


@dataclass(frozen=True)
class Query:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


_REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        # A duplicate registration would silently REPLACE the earlier
        # query (dict assignment) — the driver would then hash the new
        # body under the old name and the old query would vanish from
        # the surface without any test failing. Fail loudly instead.
        if name in _REGISTRY:
            raise ValueError(
                f"duplicate query registration: {name!r} is already "
                f"registered; pick a distinct name"
            )

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            harden(spark)
            # Free any frames the PREVIOUS query persisted (its action
            # has completed by the time the caller asks for the next
            # plan), so a long-lived session holds at most one query's
            # caches. Callers that want immediate teardown call
            # caching.release_caches() themselves after the action.
            release_caches()
            return fn(spark, sf_dir)

        _REGISTRY[name] = Query(name, wrapped, oracle, doc)
        return wrapped

    return deco


# Explicit driver-facing ordering. The verify driver hash-checks the
# first 50 registry entries against their DuckDB oracles, so the head
# holds the queries whose code or oracle changed most recently, then the
# stalest-verified oracle-bearing queries (`scripts/coverage_report.py`
# generates that fill from the CORRECTNESS files). Every registry oracle
# is still checked on every pytest run by tests/test_oracle_parity.py,
# and output schemas are swept by tests/test_schema_audit.py. The
# history of the window is in BASELINE.md §19.
_PRIORITY: tuple[str, ...] = (
    "streaming_cdc_upsert_multibatch",
    "streaming_cdc_upsert_bucketed",
    "streaming_cdc_upsert_filestats",
    "streaming_cdc_upsert_tenant",
    "streaming_cdc_upsert_sharded",
    "jsonl_sink_roundtrip_agg",
    "streaming_jsonl_sink_roundtrip",
    "streaming_corpus_dedup",
    "embedding_pq_encode_init",
    "arrow_udtf_installments",
    "dedup_exact_substring",
    "dedup_minhash_lsh",
    "similarity_join_corpus",
    "corpus_doc_embedding_hybrid_dedup",
    "entity_resolution_customers",
    "window_navigation_suite",
    "array_functions_suite",
    "basket_part_cooccurrence",
    "bitwise_agg_suite",
    "bucketed_fact_join",
    "cohort_retention_weekly",
    "corpus_boilerplate_rewrite",
    "corpus_decontamination_bloom",
    "corpus_reservoir_sample",
    "corpus_tfidf_topterms",
    "corpus_train_val_test_split",
    "corpus_training_build",
    "corpus_unigram_stats",
    "dedup_connected_components",
    "dedup_semantic_clusters",
    "event_funnel_conversion",
    "feature_outlier_fences",
    "max_drawdown_per_symbol",
    "ohlc_hourly_resample",
    "regex_functions_suite",
    "schema_evolution_scan",
    "sma_crossover_signals",
    "streaming_ohlc_bars",
    "streaming_sliding_sums",
    "streaming_static_enrich",
    "streaming_stream_stream_join",
    "streaming_stream_stream_left_join",
    "streaming_tumbling_counts",
    "streaming_tumbling_counts_rocksdb",
    "symbol_validation",
    "text_quality_stats",
    "text_repetition_stats",
    "topk_movers_per_day",
    "tpch_q12_shipmode",
    "tpch_q14_promo_share",
)


def all_queries() -> dict[str, Query]:
    # Import modules for their registration side effects.
    from . import queries_reference  # noqa: F401
    from . import queries_relational  # noqa: F401
    from . import queries_analytics  # noqa: F401
    from . import queries_tpc  # noqa: F401
    from . import queries_indicators  # noqa: F401
    from . import queries_dedup  # noqa: F401
    from . import queries_similarity  # noqa: F401
    from . import queries_corpus  # noqa: F401
    from . import queries_graph  # noqa: F401
    from . import queries_streaming  # noqa: F401
    from . import queries_multimodal  # noqa: F401
    from . import queries_sources  # noqa: F401

    ordered: dict[str, Query] = {}
    for name in _PRIORITY:
        if name in _REGISTRY:
            ordered[name] = _REGISTRY[name]
    for name, q in _REGISTRY.items():
        if name not in ordered:
            ordered[name] = q
    return ordered
