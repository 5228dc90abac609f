"""Physical-plan assertions (SURVEY.md §7.4): the properties that make
these plans survive a 100 TB scale-up are checked here, not assumed —
pushdown reaches the scan, small dims broadcast, bucketed joins skip
the exchange, payload columns get pruned, salting preserves results.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sp500_stock_etl_spark.io.readers import load_table
from sp500_stock_etl_spark.io.writers import write_bucketed_table
from sp500_stock_etl_spark.operators import dedup as D
from sp500_stock_etl_spark.operators.skew import salted_join
from sp500_stock_etl_spark.plans.registry import all_queries


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_filter_and_pruning_reach_parquet_scan(spark, sf_dir):
    q = all_queries()["filtered_scan_projection"]
    plan = _plan(q.spark_fn(spark, sf_dir))
    assert "PushedFilters: [" in plan and "GreaterThanOrEqual(l_shipdate" in plan
    # Projection pruning: the scan must not read all 16 lineitem cols.
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_comment" not in read and "l_shipmode" not in read


def test_star_join_broadcasts_small_dims(spark, sf_dir):
    plan = _plan(all_queries()["broadcast_star_join"].spark_fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "dims must not trigger a full shuffle join"


def test_fact_fact_join_is_sort_merge(spark, sf_dir):
    plan = _plan(all_queries()["fact_fact_join"].spark_fn(spark, sf_dir))
    assert "SortMergeJoin" in plan


def test_multimodal_metadata_agg_prunes_payload(spark, sf_dir):
    plan = _plan(all_queries()["multimodal_metadata_agg"].spark_fn(spark, sf_dir))
    # total_bytes needs length(payload); but decode columns must not
    # appear — this plan has no mapInPandas/python worker at all.
    assert "mapInPandas" not in plan.lower() and "ArrowEvalPython" not in plan


def test_salted_join_matches_plain_join(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    salted = salted_join(li, orders, "o_orderkey", "l_linenumber", n_salts=4)
    plain = li.join(orders, "o_orderkey")
    assert salted.count() == plain.count()
    a = salted.groupBy("o_orderpriority").count().collect()
    b = plain.groupBy("o_orderpriority").count().collect()
    assert {tuple(r) for r in a} == {tuple(r) for r in b}


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        )
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        )
        write_bucketed_table(li, "b_lineitem", "l_orderkey", n_buckets=4)
        write_bucketed_table(orders, "b_orders", "o_orderkey", n_buckets=4)
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = _plan(joined)
        assert "Exchange" not in plan, "bucketed co-located join must not shuffle"
        assert joined.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_partitioned_table_prunes_statically_and_dynamically(spark, sf_dir, tmp_path):
    """K3 partitioned layout must engage both pruning paths (SURVEY
    §7.4): a literal filter on the partition column becomes a
    PartitionFilter (no scan of other partitions), and a selective
    dim-side filter reaches the fact scan as a dynamicpruning
    subquery (DPP)."""
    from sp500_stock_etl_spark.io.writers import write_partitioned_table

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_by_year")
    write_partitioned_table(orders, path, partition_col="order_year")
    fact = spark.read.parquet(path)

    static = fact.where(F.col("order_year") == 1995)
    splan = _plan(static)
    assert "PartitionFilters" in splan and "order_year" in splan

    # The dim filter must be on a column Catalyst CANNOT rewrite in
    # terms of the join key (constraint propagation would turn it into
    # a static partition filter — good, but not what's under test), so
    # the year dim carries an opaque label and the filter hits that.
    all_years = [r[0] for r in fact.select("order_year").distinct().collect()]
    years = spark.createDataFrame(
        [(y, f"label_{i}") for i, y in enumerate(sorted(all_years))],
        "order_year int, label string",
    ).where(F.col("label") == "label_1")
    joined = fact.join(years, "order_year").select("o_orderkey", "order_year")
    dplan = _plan(joined)
    assert "dynamicpruning" in dplan, dplan[:2000]


def test_runtime_bloom_filter_injection(spark, sf_dir):
    """The OTHER runtime-filtering path besides DPP: Catalyst's
    InjectRuntimeFilter builds a bloom_filter_agg over the SELECTIVE
    (creation) side of a shuffle join and applies might_contain on the
    fact side BEFORE the shuffle — at 100 TB this is what keeps a
    selective dim filter from shuffling the whole fact table when the
    layout is not partitioned by the join key (DPP's prerequisite).
    Default thresholds (10 GB application-side scan) are sized for
    real clusters, so the test lowers them to make the rule fire at
    test scale, then checks the rewrite fires AND preserves results.
    """
    import sp500_stock_etl_spark.io.readers as R

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "1B",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force a shuffle join
    }
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_size") == 50)
    q = li.join(part, F.col("l_partkey") == F.col("p_partkey")).groupBy(
        "l_partkey"
    ).agg(F.sum("l_quantity").alias("q"))
    baseline = sorted((r["l_partkey"], r["q"]) for r in q.collect())
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        q2 = li.join(part, F.col("l_partkey") == F.col("p_partkey")).groupBy(
            "l_partkey"
        ).agg(F.sum("l_quantity").alias("q"))
        opt = q2._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in opt, opt[:2000]
        assert "might_contain" in opt, opt[:2000]
        filtered = sorted((r["l_partkey"], r["q"]) for r in q2.collect())
        assert filtered == baseline  # the filter may only PRUNE probes
    finally:
        for k in confs:
            spark.conf.unset(k)


def test_no_pathological_plans_anywhere(spark, sf_dir):
    """Fleet-wide physical-plan audit: no registry query may compile to
    a cartesian product (except the one that IS one) or row-at-a-time
    Python evaluation (BatchEvalPython) — Arrow paths
    (ArrowEvalPython / FlatMapGroupsInPandas / MapInPandas /
    PythonUDTF) are the only sanctioned Python operators. Streaming
    queries are excluded (their plan materializes through the sink;
    semantics are covered by their own tests)."""
    qs = all_queries()
    cartesian_ok = {"cross_join_dims"}
    skip = {n for n in qs if n.startswith("streaming_")}
    bad = []
    for name, q in sorted(qs.items()):
        if name in skip:
            continue
        plan = _plan(q.spark_fn(spark, sf_dir))
        if "CartesianProduct" in plan and name not in cartesian_ok:
            bad.append((name, "CartesianProduct"))
        if "BatchEvalPython" in plan:
            bad.append((name, "BatchEvalPython (row-at-a-time Python)"))
    assert not bad, bad


def test_chunking_plan_is_shuffle_free(spark, sf_dir):
    """corpus_chunking must stay pure map-side: sequence+explode, no
    Exchange of any kind — the property that keeps it embarrassingly
    parallel at any corpus size."""
    plan = _plan(all_queries()["corpus_chunking"].spark_fn(spark, sf_dir))
    assert "Exchange" not in plan, plan[:1500]


def test_boilerplate_plan_shuffles_hashes_only(spark, sf_dir):
    """corpus_boilerplate_segments may shuffle, but only md5 segment
    hashes + ids — the segment/document TEXT must be pruned before
    every exchange (ReadSchema keeps text at the scan; no string
    column wider than the hash crosses an Exchange)."""
    df = all_queries()["corpus_boilerplate_segments"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "Exchange" in plan
    # The final output carries no text column at all.
    assert all(
        f.name in {"doc_id", "n_segments", "n_boiler_segments", "boiler_ratio"}
        for f in df.schema.fields
    )


def test_packing_plan_single_arrow_group_pass(spark, sf_dir):
    """corpus_sequence_packing is one FlatMapGroupsInPandas over the
    group key — exactly one grouped Python pass, no second shuffle."""
    import re

    plan = _plan(all_queries()["corpus_sequence_packing"].spark_fn(spark, sf_dir))
    # Count operator-detail headers — the formatted dump names each
    # node once in the tree and once in the details.
    assert len(re.findall(r"\(\d+\) FlatMapGroupsInPandas", plan)) == 1
    assert "BatchEvalPython" not in plan


def test_ensure_parallelism_is_guarded(spark, sf_dir):
    from sp500_stock_etl_spark.io.readers import ensure_parallelism

    docs = load_table(spark, sf_dir, "documents")
    # Small single-row-group file -> repartitions up to the target.
    up = ensure_parallelism(docs, min_partitions=4)
    assert up.rdd.getNumPartitions() == 4
    # Already at/above target -> returns the SAME plan, no shuffle.
    wide = docs.repartition(8)
    assert ensure_parallelism(wide, min_partitions=4) is wide


def test_global_sort_topk_is_take_ordered(spark, sf_dir):
    """orderBy+limit must compile to TakeOrderedAndProject — a
    per-partition bounded heap with one driver merge — never a
    materialized global sort. The r10 sort probe measured the payoff
    (600M rows: zero shuffle, zero spill, scan-bound 52.6 s vs 302 s
    for the full sort — BASELINE §12); this pins the plan shape a
    regression would silently discard."""
    plan = _plan(all_queries()["global_sort_topk"].spark_fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower(), (
        "limit lost: the top-k is paying a full range-exchange sort"
    )


def test_verify_joins_hash_build_never_sort(spark, sf_dir, monkeypatch):
    """The r9 100x hybrid probe convicted two sort-merge joins that
    sorted a fat side: jaccard_verify's candidate->shingle joins
    (whole-document arrays) and cosine_neardup_pairs' pair->vector
    join-backs (tens of millions of candidate rows at scale). Neither
    may ever sort a fat side:

    - dedup_embedding_cosine stays shuffled-hash;
    - dedup_minhash_lsh's verify is SIZE-GATED (r11): a provably
      bounded candidate set broadcasts (zero corpus shuffle), an
      unbounded one takes the spill-safe aggregate shape — forced
      here by patching the gate to pin BOTH plans.
    The only SMJ allowed anywhere is the banded bucket self-join,
    whose sides are skinny (id, band, sig) rows."""

    def assert_no_fat_smj(plan: str, name: str) -> None:
        for line in plan.splitlines():
            if "SortMergeJoin" in line and "Inner" in line:
                assert "band" in line, (
                    f"{name}: id-keyed SMJ crept back: {line[:160]}"
                )

    plan = _plan(all_queries()["dedup_embedding_cosine"].spark_fn(spark, sf_dir))
    assert "ShuffledHashJoin" in plan
    assert_no_fat_smj(plan, "dedup_embedding_cosine")

    q = all_queries()["dedup_minhash_lsh"].spark_fn
    monkeypatch.setattr(D, "_verify_size_gate", lambda p, s: True)
    plan = _plan(q(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, "gated fast path must broadcast"
    assert "ShuffledHashJoin" not in plan, (
        "broadcast-gated verify must not shuffle the corpus"
    )
    assert_no_fat_smj(plan, "dedup_minhash_lsh[broadcast]")

    monkeypatch.setattr(D, "_verify_size_gate", lambda p, s: False)
    plan = _plan(q(spark, sf_dir))
    assert "ShuffledHashJoin" in plan, "agg shape must keep SHJ fetches"
    assert_no_fat_smj(plan, "dedup_minhash_lsh[agg]")
