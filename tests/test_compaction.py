"""Small-file compaction: content-identical rewrite into the target
file count (io/writers.compact_parquet)."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from sp500_stock_etl_spark.io.readers import load_table
from sp500_stock_etl_spark.io.writers import compact_parquet

SF_DIR = "/root/testdata/sf0.001"


def _snapshot(spark, path):
    return sorted(
        tuple(r)
        for r in spark.read.parquet(path)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .collect()
    )


def test_compact_reduces_files_preserves_rows(spark, tmp_path):
    path = str(tmp_path / "frags")
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    # Simulate an incremental sink: 64 tiny files.
    li.repartition(64).write.parquet(path)
    assert len(glob.glob(f"{path}/*.parquet")) == 64
    before = _snapshot(spark, path)

    stats = compact_parquet(spark, path, target_file_bytes=10 * 1024 * 1024)

    assert stats["files_before"] == 64
    assert stats["files_after"] < 64
    assert len(glob.glob(f"{path}/*.parquet")) == stats["files_after"]
    assert _snapshot(spark, path) == before, "compaction must not change data"


def test_compact_noop_when_already_compact(spark, tmp_path):
    path = str(tmp_path / "ok")
    load_table(spark, SF_DIR, "lineitem").select("l_orderkey").coalesce(
        1
    ).write.parquet(path)
    stats = compact_parquet(spark, path, target_file_bytes=128 * 1024 * 1024)
    assert stats["files_before"] == stats["files_after"] == 1


def test_compact_refuses_partitioned_layout(spark, tmp_path):
    """A flat rewrite would silently drop the Hive partition layout —
    compact_parquet must refuse instead."""
    import pytest

    path = str(tmp_path / "parts")
    load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag"
    ).repartition(8).write.partitionBy("l_returnflag").parquet(path)
    with pytest.raises(ValueError, match="Hive-partitioned"):
        compact_parquet(spark, path, target_file_bytes=1)


def test_compact_leaves_no_tmp_dirs(spark, tmp_path):
    """The rename-aside swap cleans up both __compact_tmp and
    __compact_old on success."""
    import os

    path = str(tmp_path / "swap")
    load_table(spark, SF_DIR, "lineitem").select("l_orderkey").repartition(
        16
    ).write.parquet(path)
    compact_parquet(spark, path, target_file_bytes=64 * 1024 * 1024)
    assert not os.path.exists(path + "__compact_tmp")
    assert not os.path.exists(path + "__compact_old")
    assert len(glob.glob(f"{path}/*.parquet")) >= 1


def test_atomic_bucketed_write(spark, tmp_path):
    """write_bucketed_table_atomic: stage → rename publish preserves
    the bucketed no-exchange join layout, replays idempotently, and
    leaves no staging/aside directories behind (r9 verdict item 3)."""
    import os

    from sp500_stock_etl_spark.io.writers import write_bucketed_table_atomic

    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    p1 = str(tmp_path / "b_li_atomic")
    p2 = str(tmp_path / "b_ord_atomic")
    write_bucketed_table_atomic(li, "b_li_atomic", "l_orderkey", 4, path=p1)
    write_bucketed_table_atomic(
        orders, "b_ord_atomic", "o_orderkey", 4, path=p2
    )

    # Contents survive the rename.
    assert spark.table("b_li_atomic").count() == li.count()

    # The bucket layout survives: co-located join plans with NO
    # Exchange on either side (bucket ids live in file names, and the
    # CREATE ... CLUSTERED BY over the published location keeps the
    # metadata).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("b_li_atomic").join(
            spark.table("b_ord_atomic"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:1500]
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    # Overwrite replay: same table+path again, halved content wins.
    li_half = li.where(F.col("l_orderkey") % 2 == 0)
    write_bucketed_table_atomic(
        li_half, "b_li_atomic", "l_orderkey", 4, path=p1
    )
    assert spark.table("b_li_atomic").count() == li_half.count()

    # No staging or aside dirs left in the parent.
    leftovers = [
        d for d in os.listdir(tmp_path) if "__stage__" in d or "__old__" in d
    ]
    assert leftovers == [], leftovers
    spark.sql("DROP TABLE IF EXISTS b_li_atomic")
    spark.sql("DROP TABLE IF EXISTS b_ord_atomic")


def test_atomic_write_unique_staging_namespaces(spark, tmp_path):
    """Concurrent atomic writes to per-batch paths under one store
    root: every write job stages in its OWN directory (uuid4 per
    call — the FileOutputCommitter-collision fix), all succeed, and
    the final store is the exact union of the batches."""
    import os
    import threading

    from sp500_stock_etl_spark.io import writers as W

    staged: list[str] = []
    real_rename = os.rename

    def spying_rename(src, dst):
        if "__stage__" in str(src):
            staged.append(str(src))
        return real_rename(src, dst)

    li = (
        load_table(spark, SF_DIR, "lineitem")
        .select("l_orderkey", "l_extendedprice")
        .limit(200)
        .cache()
    )
    li.count()
    store_root = tmp_path / "store"
    store_root.mkdir()
    errors: list[Exception] = []

    def one_batch(i: int) -> None:
        try:
            W.write_bucketed_table_atomic(
                li,
                f"b_stress_{i}",
                "l_orderkey",
                2,
                path=str(store_root / f"delta_{i}"),
            )
        except Exception as e:  # noqa: BLE001 — the assertion IS no-error
            errors.append(e)

    os.rename = spying_rename
    try:
        threads = [
            threading.Thread(target=one_batch, args=(i,)) for i in range(8)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    finally:
        os.rename = real_rename

    assert errors == [], errors
    assert len(staged) == 8
    assert len(set(staged)) == 8, "staging namespaces must be disjoint"
    total = sum(
        spark.read.parquet(str(store_root / f"delta_{i}")).count()
        for i in range(8)
    )
    assert total == 8 * li.count()
    for i in range(8):
        spark.sql(f"DROP TABLE IF EXISTS b_stress_{i}")
    li.unpersist()


def test_merge_touched_partitions(spark, tmp_path):
    """The bucketed CDC merge must rewrite ONLY the partitions a batch
    touches: untouched bucket directories stay byte-identical on disk
    (same files, same mtimes), touched buckets are rewritten with
    last-write-wins content, and the returned touched list is exact."""
    import os

    from pyspark.sql import functions as F

    from sp500_stock_etl_spark.io.writers import merge_touched_partitions

    def keep_newest(df):
        from pyspark.sql import Window

        w = Window.partitionBy("k").orderBy(F.col("ver").desc())
        return (
            df.withColumn("rn", F.row_number().over(w))
            .where("rn = 1")
            .drop("rn")
        )

    store = str(tmp_path / "store")
    base = spark.range(0, 80).select(
        F.col("id").alias("k"),
        F.lit(0).alias("ver"),
        (F.col("id") % 8).cast("int").alias("bucket"),
    )
    t0 = merge_touched_partitions(store, base, "bucket", keep_newest)
    assert t0 == list(range(8))

    def snapshot(bucket):
        d = f"{store}/bucket={bucket}"
        return sorted(
            (f, os.stat(f"{d}/{f}").st_mtime_ns, os.path.getsize(f"{d}/{f}"))
            for f in os.listdir(d)
            if not f.startswith((".", "_"))
        )

    before = {b: snapshot(b) for b in range(8)}

    # Batch touches ONLY buckets 1 and 3: updates k=1 (ver 1) and
    # inserts k=99 (bucket 3).
    batch = spark.createDataFrame(
        [(1, 1, 1), (99, 1, 3)], "k long, ver int, bucket int"
    )
    touched = merge_touched_partitions(store, batch, "bucket", keep_newest)
    assert touched == [1, 3]

    for b in range(8):
        if b in (1, 3):
            assert snapshot(b) != before[b], f"bucket {b} must be rewritten"
        else:
            assert snapshot(b) == before[b], (
                f"untouched bucket {b} was rewritten"
            )

    final = spark.read.parquet(store)
    assert final.count() == 81  # 80 originals + 1 insert
    assert final.where("k = 1").select("ver").first()[0] == 1  # updated
    assert final.where("k = 99").count() == 1  # inserted
    assert final.where("k = 2").select("ver").first()[0] == 0  # carried


def test_atomic_publish_restores_old_store_on_persistent_failure(
    spark, tmp_path, monkeypatch
):
    """Publish-loop hardening (ADVICE r10, writers.py mediums): when
    the rename-in fails PERSISTENTLY (EACCES-style, not a race), the
    previous store must be restored at ``path`` — not deleted — and
    the staged data must survive for manual recovery."""
    import os

    from sp500_stock_etl_spark.io.writers import write_bucketed_table_atomic

    df = spark.range(100).withColumnRenamed("id", "k")
    p = str(tmp_path / "b_restore")
    write_bucketed_table_atomic(df, "b_restore_v1", "k", 4, path=p)
    before = sorted(os.listdir(p))

    real_rename = os.rename

    def failing_rename(src, dst):
        # Only the rename-IN (stage -> path) fails; aside/restore work.
        if "__stage__" in str(src) and str(dst) == p:
            raise PermissionError(13, "injected EACCES", str(src))
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_rename)
    half = df.where("k % 2 = 0")
    try:
        write_bucketed_table_atomic(half, "b_restore_v2", "k", 4, path=p)
        raise AssertionError("publish must fail under injected EACCES")
    except RuntimeError as e:
        assert "50 straight races" in str(e)
    finally:
        monkeypatch.setattr(os, "rename", real_rename)

    # The old store is fully restored at path — nothing was destroyed.
    assert os.path.isdir(p), "previous store must survive the failure"
    assert sorted(os.listdir(p)) == before
    assert spark.read.parquet(p).count() == 100
    # The staged copy is preserved for recovery.
    stage_dirs = [d for d in os.listdir(tmp_path) if "__stage__" in d]
    assert len(stage_dirs) == 1, stage_dirs
    spark.sql("DROP TABLE IF EXISTS b_restore_v1")
    spark.sql("DROP TABLE IF EXISTS b_restore_v2")
