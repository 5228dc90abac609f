"""Streaming slice tests: availableNow trigger semantics (the
reference's daily batch, SURVEY.md §2.11), watermarked windows,
session windows, custom stateful operator."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sp500_stock_etl_spark.io.readers import read_stream, table_schema
from sp500_stock_etl_spark.streaming import events as SE


@pytest.fixture(scope="module")
def events_dir(sf_dir, tmp_path_factory):
    # File-stream sources require a directory ("landing zone"); stage
    # one with a symlink to the (read-only) testdata parquet.
    d = tmp_path_factory.mktemp("events_stream")
    (d / "events.parquet").symlink_to(f"{sf_dir}/events.parquet")
    return str(d)


@pytest.fixture()
def event_stream(spark, sf_dir, events_dir):
    return read_stream(spark, events_dir, table_schema(spark, sf_dir, "events"))


def _batch_events(spark, sf_dir):
    from sp500_stock_etl_spark.io.readers import load_table

    return load_table(spark, sf_dir, "events")


def test_tumbling_counts_match_batch(spark, sf_dir, event_stream, tmp_path):
    SE.run_available_now(
        SE.tumbling_counts(event_stream), str(tmp_path / "ckpt"), "t_tumble"
    )
    got = {
        (r.window_start, r.event_type): (r.n, r.sum_value)
        for r in spark.sql("SELECT * FROM t_tumble").collect()
    }
    batch = _batch_events(spark, sf_dir)
    want = {
        (r.ws, r.event_type): (r.n, r.sum_value)
        for r in batch.groupBy(
            F.date_trunc("hour", "ts").alias("ws"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_value"),
        )
        .collect()
    }
    # Append mode only emits windows the watermark has closed: windows
    # ending within <watermark> of the stream's max event time stay in
    # state when availableNow terminates. Everything older must match.
    import datetime

    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    cutoff = max_ts - datetime.timedelta(hours=2)
    closed_want = {
        k: v
        for k, v in want.items()
        if k[0] + datetime.timedelta(hours=1) <= cutoff
    }
    assert closed_want.items() <= got.items()
    missing = set(want) - set(got)
    assert all(
        ws + datetime.timedelta(hours=1) > cutoff for ws, _ in missing
    ), f"non-final windows missing: {missing}"


def test_available_now_is_incremental(spark, sf_dir, events_dir, event_stream, tmp_path):
    # Memory sink can't recover a checkpoint; use the real file sink
    # (which is also the production layout).
    ckpt, out = str(tmp_path / "ckpt2"), str(tmp_path / "out")

    def run_once(stream):
        q = (
            SE.tumbling_counts(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out).count()

    n1 = run_once(event_stream)
    assert n1 > 0
    # Second run, same checkpoint: no new files → no new rows appended.
    n2 = run_once(
        read_stream(spark, events_dir, table_schema(spark, sf_dir, "events"))
    )
    assert n2 == n1, "availableNow must be exactly-once over already-seen files"


def test_session_windows(spark, sf_dir, event_stream, tmp_path):
    SE.run_available_now(
        SE.session_counts(event_stream), str(tmp_path / "ckpt3"), "t_sess"
    )
    rows = spark.sql("SELECT * FROM t_sess").collect()
    assert rows, "expected at least one session"
    assert all(r.session_end > r.session_start for r in rows)
    # Sessions of the same user must not overlap.
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append((r.session_start, r.session_end))
    for spans in by_user.values():
        spans.sort()
        assert all(a[1] <= b[0] for a, b in zip(spans, spans[1:]))


def test_running_user_totals_stateful(spark, sf_dir, event_stream, tmp_path):
    SE.run_available_now(
        SE.running_user_totals(event_stream),
        str(tmp_path / "ckpt4"),
        "t_state",
        output_mode="update",
    )
    got = {
        r.user_id: r.n_events
        for r in spark.sql(
            "SELECT user_id, max(n_events) n_events FROM t_state GROUP BY user_id"
        ).collect()
    }
    want = {
        r.user_id: r.n
        for r in _batch_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_watermark_drops_late_data_across_restarts(spark, tmp_path):
    """Late-data semantics, proven across two availableNow runs
    sharing one checkpoint (the reference's daily-rerun shape):
    batch 1 closes a window; batch 2 delivers an event that belongs
    to that closed window (later than the persisted watermark
    allows) plus a fresh event. The late event must be DROPPED —
    the closed window is never re-emitted — while the fresh event
    advances the stream normally."""
    import time

    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def write_batch(rows, name):
        df = spark.createDataFrame(
            [(i, int(h * 3600 * 1e9), 1, "click", 1.0, "{}")
             for i, h in rows],
            schema=SE.EVENTS_RAW,
        )
        df.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"stage_{name}")
        )
        import glob, shutil
        src = glob.glob(str(tmp_path / f"stage_{name}" / "*.parquet"))[0]
        shutil.copy(src, str(landing / f"{name}.parquet"))

    # Memory sinks can't recover from a checkpoint; the restartable
    # sink is a file sink (parquet, append) — also the realistic one.
    out = str(tmp_path / "out")

    def run():
        stream = read_stream(spark, str(landing), SE.EVENTS_RAW)
        q = (
            SE.tumbling_counts(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r.window_start, r.n)
            for r in spark.read.parquet(out).collect()
        }

    # Batch 1: events at hours 1..5 → watermark 3h → windows ending
    # <= 3h close and are appended: [1,2) and [2,3).
    write_batch([(i, h) for i, h in enumerate([1.5, 2.5, 3.5, 4.5, 5.5])], "b1")
    got1 = run()
    hours1 = {ws.hour for ws, _ in got1}
    assert hours1 == {1, 2}, got1

    # Batch 2: one LATE event back in hour 1 (behind the persisted
    # watermark; its window already closed) + one fresh event at hour
    # 8 (advances watermark to 6h → windows [3,4),[4,5),[5,6) close).
    # The file sink accumulates, so got2 is cumulative output.
    write_batch([(100, 1.6), (101, 8.5)], "b2")
    got2 = run()
    hours2 = sorted(ws.hour for ws, _ in got2)
    assert hours2 == [1, 2, 3, 4, 5], got2
    # every emitted window holds exactly its ONE on-time event: the
    # late hour-1 event neither re-emitted the closed window nor
    # bumped its count.
    assert all(n == 1 for _, n in got2), got2


def test_running_totals_ttl_evicts_idle_keys(spark, tmp_path):
    """Bounded-state twin (round-2 verdict item 4): a user idle past
    the event-time TTL is EVICTED once the watermark passes — and a
    later event for that user restarts their totals from zero instead
    of resuming. Driven across checkpointed availableNow runs, the
    same multi-run shape as the late-data test above.

    Timeline (TTL=1h, watermark delay=2h):
      run1: u1@{1.0h,1.2h}, u2@1.5h  → totals u1=2, u2=1; wm stays 0
      run2: u9@8h                     → wm advances to 6h; availableNow
                                        runs a trailing no-data batch,
                                        so u1/u2 (timeout 2.2h/2.5h)
                                        are evicted within this run
      run3: u8@9h                     → no u1/u2 rows re-emitted
      run4: u1@9.5h                   → u1 restarts at n=1 (not 3)
    """
    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def write_batch(rows, name):
        df = spark.createDataFrame(
            [(i, int(h * 3600 * 1e9), u, "click", 1.0, "{}") for i, (u, h) in enumerate(rows)],
            schema=SE.EVENTS_RAW,
        )
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / f"stage_{name}"))
        import glob
        import shutil

        src = glob.glob(str(tmp_path / f"stage_{name}" / "*.parquet"))[0]
        shutil.copy(src, str(landing / f"{name}.parquet"))

    def run():
        stream = read_stream(spark, str(landing), SE.EVENTS_RAW)
        q = (
            SE.running_user_totals_ttl(stream)
            .writeStream.foreachBatch(
                lambda df, _bid: df.write.mode("append").parquet(out)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        removed = 0
        for prog in q.recentProgress:
            for op in prog.get("stateOperators") or []:
                removed += op.get("numRowsRemoved", 0)
        return removed

    write_batch([(1, 1.0), (1, 1.2), (2, 1.5)], "b1")
    run()
    got1 = {(r.user_id, r.n_events) for r in spark.read.parquet(out).collect()}
    assert (1, 2) in got1 and (2, 1) in got1

    write_batch([(9, 8.0)], "b2")
    removed = run()

    write_batch([(8, 9.0)], "b3")
    removed += run()
    assert removed >= 2, "u1/u2 state must be evicted once wm passes TTL"
    rows3 = spark.read.parquet(out).collect()
    # The timed-out invocation emits nothing: no new u1/u2 rows.
    assert {(r.user_id, r.n_events) for r in rows3 if r.user_id == 1} == {(1, 2)}

    write_batch([(1, 9.5)], "b4")
    run()
    u1_counts = sorted(
        r.n_events for r in spark.read.parquet(out).collect() if r.user_id == 1
    )
    assert u1_counts == [1, 2], (
        "post-eviction event must RESTART the total at 1, got %s" % u1_counts
    )


def test_running_totals_ttl_matches_unbounded_single_run(spark, sf_dir, event_stream, tmp_path):
    """Under one availableNow replay nothing times out, so the TTL twin
    emits exactly what the unbounded operator emits."""
    SE.run_available_now(
        SE.running_user_totals_ttl(event_stream),
        str(tmp_path / "ckpt_ttl"),
        "t_state_ttl",
        output_mode="update",
    )
    got = {
        r.user_id: r.n_events
        for r in spark.sql(
            "SELECT user_id, max(n_events) n_events FROM t_state_ttl GROUP BY user_id"
        ).collect()
    }
    want = {
        r.user_id: r.n
        for r in _batch_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


@pytest.mark.parametrize(
    "name", ["streaming_running_user_totals", "streaming_running_user_totals_ttl"]
)
def test_running_totals_plan_final_row_equals_batch(spark, sf_dir, name):
    """The two rows-only running-totals plans: each user's final
    emission (max n_events) counts every event of the user, and its
    total_value is the batch sum(value) up to float reassociation."""
    from sp500_stock_etl_spark.plans.registry import all_queries

    out = all_queries()[name].spark_fn(spark, sf_dir)
    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in out.groupBy("user_id")
        .agg(F.max_by(F.struct("n_events", "total_value"), "n_events").alias("f"))
        .select("user_id", "f.*")
        .collect()
    }
    want = {
        r.user_id: (r.n, r.total)
        for r in _batch_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert got.keys() == want.keys()
    for user, (n, total) in want.items():
        assert got[user][0] == n, user
        assert got[user][1] == pytest.approx(total, rel=1e-9), user


def test_streaming_corpus_dedup_exactly_once(spark, tmp_path):
    """Re-running the streaming LSH corpus dedup against the SAME
    checkpoint re-processes nothing: the reference's PURGE=TRUE
    bookkeeping (dags/sp500_dag.py.py:378) as source-offset
    exactly-once, composed with the north-star dedup operator."""
    import os

    from pyspark.sql import functions as F

    from sp500_stock_etl_spark.io.readers import load_table
    from sp500_stock_etl_spark.operators.dedup import (
        minhash_similarity_join_stream,
    )

    sf_dir = "/root/testdata/sf0.001"
    staged = str(tmp_path / "docs")
    os.makedirs(staged)
    os.symlink(f"{sf_dir}/documents.parquet", f"{staged}/documents.parquet")
    corpus = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run() -> int:
        stream = read_stream(
            spark, staged, table_schema(spark, sf_dir, "documents")
        ).select("doc_id", "text")
        probes = stream.select(
            (F.col("doc_id") + 500_000).alias("doc_id"), "text"
        )
        joined = minhash_similarity_join_stream(
            probes, corpus, "doc_id", "text", threshold=0.5
        )
        # File sink (memory sinks cannot recover a checkpoint): the
        # output dir accumulates across runs, so growth == new data.
        q = (
            joined.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out).count()

    first = run()
    assert first > 0, "identical probes must match their corpus originals"
    assert run() == first, "same checkpoint → nothing re-processed"


def test_stream_shuffle_partitions_python_stateful_floor(spark, tmp_path):
    """r15 (r14 verdict item 7): a plan whose hot path is a Python
    stateful operator gets a cores-derived partition floor
    (max(4, defaultParallelism // 2)) — the partition count is also
    the Python-worker parallelism — while JVM-stateful plans keep the
    state-store-machinery floor of 4. Both stay capped at
    defaultParallelism, so cluster behavior is unchanged."""
    from sp500_stock_etl_spark.plans.queries_streaming import (
        _stream_shuffle_partitions,
    )

    src = tmp_path / "src"
    src.mkdir()
    (src / "tiny.parquet").write_bytes(b"x" * 1024)  # one split

    par = spark.sparkContext.defaultParallelism
    jvm_floor = _stream_shuffle_partitions(spark, str(src))
    py_floor = _stream_shuffle_partitions(spark, str(src), cores_floor=True)
    assert jvm_floor == min(par, 4)
    assert py_floor == min(par, max(4, par // 2))
    assert py_floor <= par and jvm_floor <= par

    # Faked large source: with a 1-byte split size the 1 KiB file is
    # 1024 splits, more than the cores of any local session, so both
    # floors hit the cap.
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "1")
        assert _stream_shuffle_partitions(spark, str(src)) == par
        assert (
            _stream_shuffle_partitions(spark, str(src), cores_floor=True)
            == par
        )
        # Unit-suffixed split sizes are read as Spark reads them: a
        # 1 KiB split holds the 1 KiB file in one split (floor 4, not
        # 1024 one-byte splits), and the default size spelled with any
        # unit sizes exactly like its byte spelling.
        spark.conf.set(key, "1k")
        assert _stream_shuffle_partitions(spark, str(src)) == jvm_floor
        for spelled in ("134217728b", "128m", "128MB", "1g"):
            spark.conf.set(key, spelled)
            assert _stream_shuffle_partitions(spark, str(src)) == jvm_floor
            assert (
                _stream_shuffle_partitions(spark, str(src), cores_floor=True)
                == py_floor
            )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
