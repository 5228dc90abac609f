"""Spark's generated-code cache must hold a session's plan set.

Spark compiles each distinct generated class once and keeps it in a
cache of ``spark.sql.codegen.cache.maxEntries`` classes (default 100,
least recently used evicted). A session that cycles through more
distinct classes than that evicts every class before its plan runs
again, so each rerun compiles, loads and JITs its classes anew.

``PLANS`` compiles at least 147 distinct classes at sf0.001 (the sum
of their compile counts after the plans before them in the registry
had run, cold session). With the default cache its second pass
recompiles nearly all of them; with the cache ``get_spark`` sizes it
recompiles none.
"""

from __future__ import annotations

from sp500_stock_etl_spark.plans.registry import all_queries
from sp500_stock_etl_spark.session import _BUILD_TIME_CONF

CACHE_CONF = "spark.sql.codegen.cache.maxEntries"
PLANS = (
    "tpch_q2_min_cost_supplier",
    "tpch_q8_market_share",
    "star_chain_q5",
    "tpch_q20_excess_share_supplier",
    "tpch_q10_returned_items",
    "tpch_q18_large_orders",
    "tpch_q16_supplier_counts",
    "broadcast_star_join",
    "tpch_q9_profit",
    "tpch_q7_nation_volume",
)
# Classes a warm pass may still compile: a generated class whose source
# differs between runs of the same plan misses any cache.
SECOND_PASS_BOUND = 10


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _pass(spark, sf_dir: str) -> int:
    registry = all_queries()
    before = _compiles(spark)
    for name in PLANS:
        registry[name].spark_fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return _compiles(spark) - before


def test_get_spark_sizes_codegen_cache(spark):
    want = _BUILD_TIME_CONF[CACHE_CONF]
    assert int(want) > 100
    assert spark.conf.get(CACHE_CONF) == want


def test_warm_pass_reuses_generated_classes(spark, sf_dir):
    first = _pass(spark, sf_dir)
    second = _pass(spark, sf_dir)
    assert second <= SECOND_PASS_BOUND, (first, second)
