"""Pins for the r15-continuation scan-parallelism change: the
CPU-heavy shingle/winnow map stages round-robin their input up to
core count (readers.ensure_parallelism) before hashing.

Two properties are load-bearing:

1. The repartition NEVER changes what the queries compute — pinned by
   rebuilding each touched query with the ensure_parallelism binding
   patched to identity (the exact pre-change plan) and comparing full
   outputs.
2. The mechanism stays guarded (no-op at real scale) — covered by
   tests/test_scale_plans.py::test_ensure_parallelism_is_guarded and
   ::test_ensure_parallelism_noop_at_scale_shape; here we pin that
   the shingle frame actually comes out parallel at test scale, so a
   regression that drops the call is caught.
"""

from __future__ import annotations

import pytest

from sp500_stock_etl_spark.caching import release_caches
from sp500_stock_etl_spark.io import readers as RD
from sp500_stock_etl_spark.io.readers import ensure_parallelism, load_table
from sp500_stock_etl_spark.operators import dedup as D
from sp500_stock_etl_spark.plans.registry import all_queries

TOUCHED = (
    "dedup_exact_substring",
    "dedup_minhash_lsh",
    "similarity_join_corpus",
    "corpus_doc_embedding_hybrid_dedup",
    # Deletion-neighborhood variant explode (function-local import of
    # ensure_parallelism, so the RD patch below covers it).
    "entity_resolution_customers",
)


def test_parallelized_sites_output_identical(spark, sf_dir, monkeypatch):
    registry = all_queries()
    identity = lambda df, min_partitions=None: df  # noqa: E731
    for name in TOUCHED:
        new_rows = sorted(
            map(tuple, registry[name].spark_fn(spark, sf_dir).collect())
        )
        release_caches()
        with monkeypatch.context() as m:
            m.setattr(RD, "ensure_parallelism", identity)
            m.setattr(D, "ensure_parallelism", identity)
            old_rows = sorted(
                map(tuple, registry[name].spark_fn(spark, sf_dir).collect())
            )
            release_caches()
        assert old_rows == new_rows, name
        assert len(new_rows) > 0, name


def test_shingle_stage_parallel_at_test_scale(spark, sf_dir):
    if spark.sparkContext.defaultParallelism <= 1:
        pytest.skip("one core: a single scan task is already full parallelism")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # Precondition that motivates the change: a single-row-group test
    # file scans as one task.
    assert docs.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    up = ensure_parallelism(docs)
    assert up.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    sh = D.with_shingles(up, "doc_id", "text", 3)
    # The expensive map stage inherits the widened partitioning.
    assert sh.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
