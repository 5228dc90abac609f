"""CDC merge into a Hive-partitioned store
(io/writers.merge_touched_partitions): only the partitions a batch
touches are rewritten."""

from __future__ import annotations


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
