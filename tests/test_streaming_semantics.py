

def test_stream_stream_outer_joins_parity_at_sparse_scale(spark):
    """Regression for the emission-frontier bug the r7 cross-scale
    sweep caught: the determinism cutoff must track least(max purchase
    ts, max click ts) — the global watermark is the MIN over the
    per-stream watermark nodes — not the global max(ts). At sf0.001
    the last click lags the last purchase by hours, which is exactly
    the regime where the old global-max cutoff leaked two
    never-emitted purchase-outer rows into the oracle's result."""
    from tests.parity import compare, duckdb_connect

    from sp500_stock_etl_spark.plans.registry import all_queries

    sf = "/root/testdata/sf0.001"
    con = duckdb_connect(sf)
    for name in (
        "streaming_stream_stream_left_join",
        "streaming_stream_stream_full_join",
    ):
        q = all_queries()[name]
        ok, msg = compare(q.spark_fn(spark, sf), con, q.oracle)
        assert ok, f"{name}: {msg}"


def test_multibatch_sessions_really_run_multiple_batches(spark):
    """streaming_sessions_multibatch's whole point is cross-batch
    state: four ts-ordered chunk files with maxFilesPerTrigger=1 must
    produce >= 4 data microbatches with an ADVANCING watermark, and
    the incremental append emission must equal both the single-batch
    twin and the batch gaps-and-islands (the registered oracle checks
    the latter; this pins the mechanism)."""
    import tempfile

    from pyspark.sql import functions as F

    from sp500_stock_etl_spark.plans.queries_streaming import (
        _stage_events_multibatch,
    )
    from sp500_stock_etl_spark.streaming import events as SE
    from sp500_stock_etl_spark.io.readers import load_table, read_stream

    sf = "/root/testdata/sf0.001"
    staged, schema = _stage_events_multibatch(spark, sf)
    stream = read_stream(spark, staged, schema, maxFilesPerTrigger="1")
    sess = SE.session_counts(stream)
    ck = tempfile.mkdtemp(prefix="sg_ck_mb_")
    q = (
        sess.writeStream.format("memory")
        .queryName("mb_sessions")
        .outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    progress = q.recentProgress
    data_batches = [p for p in progress if p["numInputRows"] > 0]
    assert len(data_batches) >= 4, f"expected >=4 data batches, got {len(data_batches)}"
    # the watermark must strictly advance across the data batches
    wms = [p["eventTime"].get("watermark") for p in progress]
    wms = [w for w in wms if w and not w.startswith("1970")]
    assert wms == sorted(wms) and len(set(wms)) >= 3, wms
    # incremental emission equals the single-batch twin on the closed region
    ev = load_table(spark, sf, "events")
    cutoff = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 2 HOURS 1 MINUTE")).alias("c")
    ).collect()[0]["c"]
    mb = {
        tuple(r)
        for r in spark.table("mb_sessions")
        .where(F.col("session_end") <= F.lit(cutoff))
        .collect()
    }
    batch = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("w.start", "w.end", "user_id", "n_events")
        .where(F.col("end") <= F.lit(cutoff))
    )
    expected = {
        (r["start"], r["end"], r["user_id"], r["n_events"]) for r in batch.collect()
    }
    assert mb == expected


def test_cdc_upsert_applies_across_batches(spark):
    """streaming_cdc_upsert_multibatch must (a) run >= 4 data
    microbatches and (b) resolve last-write-wins THROUGH the store:
    the final state must carry users whose last event lives in an
    EARLY chunk (their rows survive three later merges untouched)
    and override users updated again later. Both properties are
    asserted against the raw feed, so a merge that only looks within
    one batch fails here even before the oracle hash."""
    from pyspark.sql import functions as F

    from sp500_stock_etl_spark.io.readers import load_table
    from sp500_stock_etl_spark.plans.queries_streaming import (
        q_streaming_cdc_upsert,
    )

    from sp500_stock_etl_spark.plans import queries_streaming as QS

    sf = "/root/testdata/sf0.001"
    final = q_streaming_cdc_upsert(spark, sf).cache()
    # (a) the merge must have run as >= 4 data microbatches — one per
    # staged chunk; a single-batch collapse would still hash green
    # while exercising nothing cross-batch.
    assert QS._LAST_CDC_DATA_BATCHES >= 4, QS._LAST_CDC_DATA_BATCHES

    ev = load_table(spark, sf, "events")
    last = (
        ev.groupBy(
            F.expr(QS._CDC_DEVICE_SPARK).alias("device_id")
        )
        .agg(F.max("ts").alias("last_ts"))
        .withColumn("early", F.col("last_ts") < F.lit("2024-01-22"))
    )
    n_early = last.where("early").count()
    n_keys = last.count()
    # Data property that makes the test meaningful: some devices' final
    # row predates the last chunk (carried through >= 1 merge), some
    # are updated again in the final chunk (overrides applied).
    assert 0 < n_early < n_keys, (n_early, n_keys)
    assert final.count() == n_keys
    # Every carried device must surface with exactly its pre-final-chunk
    # timestamp (the store preserved it bit-for-bit through the merges).
    mismatch = (
        final.join(last.where("early"), "device_id")
        .where(F.col("last_ms") != F.unix_millis("last_ts"))
        .count()
    )
    assert mismatch == 0
    final.unpersist()


def test_cdc_tenant_store_mechanism(spark):
    """streaming_cdc_upsert_tenant must (a) apply one manifest merge
    per staged chunk, (b) leave a manifest whose retention actually
    carried dead files (retention_seconds=3600 > test wall time):
    dead nonempty with dead_since stamps, all dead files still on
    disk, none of them live, and (c) carry per (tenant, device): the
    final store preserves pairs whose last event predates the final
    chunk bit-for-bit. Pruning itself is pinned deterministically by
    tests/test_manifest_store.py::test_composite_tenant_key_pruning."""
    import glob
    import os

    from pyspark.sql import functions as F

    from sp500_stock_etl_spark.io import manifest_store as MS
    from sp500_stock_etl_spark.io.readers import load_table
    from sp500_stock_etl_spark.plans import queries_streaming as QS
    from sp500_stock_etl_spark.plans.queries_streaming import (
        q_streaming_cdc_upsert_tenant,
    )

    sf = "/root/testdata/sf0.001"
    final = q_streaming_cdc_upsert_tenant(spark, sf).cache()
    assert len(QS._LAST_CDC_TENANT_STATS) >= 4, QS._LAST_CDC_TENANT_STATS
    store = QS._LAST_CDC_TENANT_STORE[0]

    m = MS.read_manifest(store)
    assert m["dead"], "retention must have carried replaced files"
    assert set(m["dead_since"]) == set(m["dead"])
    live = {f["path"] for f in MS._live_entries(store, m)}
    on_disk = {
        os.path.relpath(p, store)
        for p in glob.glob(os.path.join(store, "bucket=*", "*.parquet"))
    }
    assert set(m["dead"]) <= on_disk - live

    ev = load_table(spark, sf, "events")
    last = (
        ev.groupBy(
            F.pmod("user_id", F.lit(QS._CDC_N_TENANTS)).alias("tenant"),
            F.expr(QS._CDC_DEVICE_SPARK).alias("device_id"),
        )
        .agg(F.max("ts").alias("last_ts"))
        .withColumn("early", F.col("last_ts") < F.lit("2024-01-22"))
    )
    n_early = last.where("early").count()
    n_pairs = last.count()
    assert 0 < n_early < n_pairs, (n_early, n_pairs)
    assert final.count() == n_pairs
    mismatch = (
        final.join(last.where("early"), ["tenant", "device_id"])
        .where(F.col("last_ms") != F.unix_millis("last_ts"))
        .count()
    )
    assert mismatch == 0
    final.unpersist()


def test_cdc_carry_present_at_driver_scale(spark):
    """The carry property must hold at the scales the DRIVER
    hash-checks (sf0.01/sf0.1), not just the sf0.001 smoke: with the
    original 8-bit device key, every device's last write at those
    scales landed in the final chunk, so the oracle comparison never
    exercised the cross-batch store path — a merge that dropped the
    store would still have hashed green. The 14-bit key pins ~6
    events per device at sf0.1; this test fails if a future key
    change re-degenerates the check."""
    from pyspark.sql import functions as F

    from sp500_stock_etl_spark.io.readers import load_table
    from sp500_stock_etl_spark.plans import queries_streaming as QS

    for sf_dir in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        last = (
            load_table(spark, sf_dir, "events")
            .groupBy(F.expr(QS._CDC_DEVICE_SPARK).alias("device_id"))
            .agg(F.max("ts").alias("last_ts"))
        )
        n_keys = last.count()
        n_early = last.where(F.col("last_ts") < F.lit("2024-01-22")).count()
        assert 0 < n_early < n_keys, (sf_dir, n_early, n_keys)


def test_cdc_sharded_store_mechanism(spark):
    """streaming_cdc_upsert_sharded must (a) create a genuinely
    SHARDED store and report it per merge, (b) keep the root's shard
    aggregates equal to the loaded truth after all merges, (c) retire
    every replaced shard JSON (retention 0: nothing but the live
    shards may remain on disk), and (d) agree bit-for-bit with the
    1-shard filestats twin's contract on carried devices."""
    import glob
    import os

    from pyspark.sql import functions as F

    from sp500_stock_etl_spark.io import manifest_store as MS
    from sp500_stock_etl_spark.io.readers import load_table
    from sp500_stock_etl_spark.plans import queries_streaming as QS
    from sp500_stock_etl_spark.plans.queries_streaming import (
        q_streaming_cdc_upsert_sharded,
    )

    sf = "/root/testdata/sf0.001"
    final = q_streaming_cdc_upsert_sharded(spark, sf).cache()
    stats = QS._LAST_CDC_SHARDED_STATS
    assert len(stats) >= 4, stats
    assert all(s["n_shards"] == 8 for s in stats), stats
    store = QS._LAST_CDC_SHARDED_STORE[0]

    m = MS.read_manifest(store)
    assert m["n_shards"] == 8 and "files" not in m
    entries = MS._live_entries(store, m)
    assert sum(sd["n_files"] for sd in m["shards"]) == len(entries)
    # Shard JSON hygiene: with retention 0, after >= 2 generations only
    # the live shards (and at most one generation of dead_meta lag)
    # may exist on disk.
    live_shards = {sd["path"] for sd in m["shards"]}
    on_disk = {
        os.path.basename(p)
        for p in glob.glob(os.path.join(store, "_shard-*.json"))
    }
    assert live_shards <= on_disk
    assert on_disk - live_shards <= set(m.get("dead_meta", []))

    ev = load_table(spark, sf, "events")
    last = (
        ev.groupBy(F.expr(QS._CDC_DEVICE_SPARK).alias("device_id"))
        .agg(F.max("ts").alias("last_ts"))
        .withColumn("early", F.col("last_ts") < F.lit("2024-01-22"))
    )
    n_early = last.where("early").count()
    n_keys = last.count()
    assert 0 < n_early < n_keys, (n_early, n_keys)
    assert final.count() == n_keys
    mismatch = (
        final.join(last.where("early"), "device_id")
        .where(F.col("last_ms") != F.unix_millis("last_ts"))
        .count()
    )
    assert mismatch == 0
    final.unpersist()
