"""Incremental signature-store dedup (plans/queries_dedup.py): the scale
claims behind the r7 capstone are checked here, not assumed —

1. the store side of the candidate join consumes the bucketed layout
   with NO exchange (only the new batch shuffles);
2. the corpus TEXT scan in the verify stage sits under a semi join
   (candidates-only fetch, never a second full corpus pass);
3. the delta append is replay-idempotent (running the roundtrip query
   twice yields identical store contents);
4. incremental pairs == batch dedup restricted to new-doc pairs (the
   oracle identity, re-asserted engine-side so it holds independent
   of DuckDB).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sp500_stock_etl_spark.plans.registry import all_queries


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_store_side_join_has_no_exchange(spark, sf_dir):
    """With broadcast disabled (forcing the sort-merge path a 100 TB
    store would take), the bucketed store scan must reach the
    candidate join without an Exchange; the new-batch side is the only
    one allowed to shuffle."""
    from sp500_stock_etl_spark.io.writers import write_bucketed_table
    from sp500_stock_etl_spark.plans.queries_dedup import (
        _INC_BUCKETS,
        _inc_band_key_rows,
        _inc_corpus_and_new,
    )

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        corpus, new, _ = _inc_corpus_and_new(spark, sf_dir)
        write_bucketed_table(
            _inc_band_key_rows(corpus),
            "t_sigstore",
            "band_key",
            n_buckets=_INC_BUCKETS,
        )
        store = spark.table("t_sigstore")
        joined = store.alias("c").join(
            _inc_band_key_rows(new).alias("n"), "band_key"
        )
        import re

        plan = _plan(joined)
        # Exactly one Exchange in the plan TREE (formatted explain
        # repeats node names in the detail section): the new-batch
        # side. The store side reads its buckets in place.
        tree = plan.split("\n\n")[0]
        n_exchanges = len(re.findall(r"[+:]- Exchange", tree))
        assert n_exchanges == 1, plan
        assert "t_sigstore" in tree and "Bucketed: true" in plan, plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_sigstore")


def test_corpus_text_fetch_is_semi_join_pruned(spark, sf_dir):
    """The verify stage's documents scan must sit under a LeftSemi
    join — the plan-level witness that corpus text is fetched for
    candidate docs only."""
    q = all_queries()["dedup_incremental_refresh"]
    plan = _plan(q.spark_fn(spark, sf_dir))
    assert "LeftSemi" in plan, plan


def test_roundtrip_replay_is_idempotent(spark, sf_dir):
    q = all_queries()["dedup_signature_store_roundtrip"]
    first = sorted(tuple(r) for r in q.spark_fn(spark, sf_dir).collect())
    second = sorted(tuple(r) for r in q.spark_fn(spark, sf_dir).collect())
    assert first == second
    assert len(first) > 0


def test_incremental_equals_batch_restricted(spark, sf_dir):
    """Engine-side identity: incremental pairs == the full batch
    MinHash-LSH dedup of (corpus ∪ new) restricted to pairs with a
    new doc on either side."""
    from sp500_stock_etl_spark.operators.dedup import minhash_lsh_dedup
    from sp500_stock_etl_spark.plans.queries_dedup import (
        NEARDUP_OFFSET,
        _INC_BANDS,
        _INC_JT,
        _INC_NGRAM,
        _INC_NUM_HASHES,
        docs_with_neardups,
    )

    inc = all_queries()["dedup_incremental_refresh"].spark_fn(spark, sf_dir)
    got = sorted(tuple(r) for r in inc.collect())

    batch = minhash_lsh_dedup(
        docs_with_neardups(spark, sf_dir),
        "doc_id",
        "text",
        ngram=_INC_NGRAM,
        num_hashes=_INC_NUM_HASHES,
        bands=_INC_BANDS,
        threshold=_INC_JT,
    ).where(F.col("doc_b") >= NEARDUP_OFFSET)
    want = sorted(tuple(r) for r in batch.collect())
    assert got == want
    assert len(got) > 0


def test_store_queries_concurrent_invocations_are_isolated(spark, sf_dir):
    """r8 (r7 verdict item 4): two concurrent invocations of the
    signature-store roundtrip must not collide on store paths or
    catalog table names — each invocation gets its own temp dir +
    table token (queries_dedup._inc_store_ctx). Runs the full
    write→append→read cycle from two threads and checks both produce
    the identical (band-level) result."""
    import threading

    from sp500_stock_etl_spark.plans.queries_dedup import (
        q_dedup_signature_store_roundtrip,
    )

    results: dict[int, list] = {}
    errors: list[BaseException] = []

    def run(k: int) -> None:
        try:
            rows = q_dedup_signature_store_roundtrip(spark, sf_dir).collect()
            results[k] = sorted((r.band, r.n_rows, r.n_docs, r.sig_checksum) for r in rows)
        except BaseException as ex:  # noqa: BLE001
            errors.append(ex)

    threads = [threading.Thread(target=run, args=(k,)) for k in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not errors, errors
    assert results[0] and results[0] == results[1]
