"""Sinks (SURVEY.md §2.2).

- K1: fully-quoted CSV reproducing the reference's pandas writer
  (dags/sp500_dag.py.py:234-242): QUOTE_ALL, '%.4f' floats, '' for
  NULL, yyyy-MM-dd dates, header. An ``s3a://`` path subsumes the
  separate S3 upload task (K2) — one committer, no /tmp staging.
- K3: warehouse load → a date-partitioned parquet table. At 100 TB
  this is the layout that makes dynamic partition pruning work for
  every date-ranged query (SURVEY.md §7.4).
- A hash-bucketed, sorted table for exchange-free co-located joins,
  and a CDC merge that rewrites only the partitions a batch touches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T


def write_quoted_csv(df: DataFrame, path: str, float_decimals: int = 4) -> None:
    """K1: the reference's CSV contract (dags/sp500_dag.py.py:234-242).

    Float formatting ('%.4f') is applied as a column expression before
    the sink because Spark's CSV writer has no float_format option;
    format_number then strip the thousands separator.
    """
    cols = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            c = F.regexp_replace(F.format_number(c, float_decimals), ",", "")
        cols.append(c.alias(f.name))
    (
        df.select(*cols)
        .write.mode("overwrite")
        .option("header", True)
        .option("quoteAll", True)
        .option("nullValue", "")
        .option("emptyValue", "")
        .option("dateFormat", "yyyy-MM-dd")
        .csv(path)
    )


def write_partitioned_table(df: DataFrame, path: str, partition_col: str = "trade_date") -> None:
    """K3: parquet fact table partitioned by date.

    Replaces the reference's COPY INTO (dags/sp500_dag.py.py:353-378).
    Idempotent re-load (the reference's replace=True + PURGE=TRUE) is
    overwrite-by-partition: dynamic partitionOverwriteMode replaces
    only the partitions present in ``df``. The mode is a per-write
    option, so the session conf (and any query running concurrently
    on the session) never sees it.
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 16,
    path: str | None = None,
) -> None:
    """Co-located join layout (SURVEY.md §7.4): hash-bucketed, sorted
    table. Two tables bucketed the same way join with NO exchange on
    either side (verified in tests/test_scale_plans.py) — at 100 TB
    this is the difference between a fact-fact join that reshuffles
    both inputs and one that streams bucket-to-bucket.

    The table name is dropped first: a session that inherits another
    session's warehouse files but not its catalog would otherwise die
    with LOCATION_ALREADY_EXISTS on the managed path. Callers that
    need cross-session idempotence pass an explicit fresh ``path``
    (external table) — DROP on a managed table removes its location,
    but an orphaned location with no catalog entry can only be
    avoided, not dropped, from here.
    """
    df.sparkSession.sql(f"DROP TABLE IF EXISTS {table}")
    w = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def merge_touched_partitions(
    store_dir: str,
    batch_latest: DataFrame,
    partition_col: str,
    resolve,
) -> list:
    """CDC merge into a Hive-partitioned store that rewrites ONLY the
    partitions the batch touches — the production shape for an
    ever-growing keyed store (the whole-store rewrite in the
    registered CDC query is the documented test-scale simplification;
    its per-batch cost is O(store), this one's is O(batch + touched
    partitions)).

    Mechanics:
    1. First batch (no store yet): plain partitioned write.
    2. Otherwise: the touched partition values are collected (bounded
       by the partition-space size — the caller picks a bucket count,
       so this is a driver-safe small list), the OLD rows of only
       those partitions are read back (directory-level partition
       pruning — untouched buckets are never opened), merged with the
       batch through ``resolve`` (e.g. last-write-wins keep-newest),
       and written with dynamic partitionOverwriteMode (a per-write
       option, the session conf is untouched): Spark replaces
       exactly the partitions present in the written frame, leaving
       every untouched bucket's files byte-identical on disk (pinned
       by tests/test_compaction.py::test_merge_touched_partitions).
    3. The merged frame is localCheckpoint-ed before the write: the
       write overwrites directories the plan reads, and materializing
       first both breaks that read-own-write hazard and bounds the
       reread to touched-partition size.

    Returns the touched partition values (for observability/tests).
    """
    import os

    spark = batch_latest.sparkSession
    if not os.path.exists(store_dir):
        batch_latest.write.partitionBy(partition_col).mode(
            "overwrite"
        ).parquet(store_dir)
        return sorted(
            r[0]
            for r in batch_latest.select(partition_col).distinct().collect()
        )

    from ..caching import track_local_checkpoint

    touched = sorted(
        r[0]
        for r in batch_latest.select(partition_col).distinct().collect()
    )
    old = spark.read.parquet(store_dir).where(
        F.col(partition_col).isin(touched)
    )
    merged = track_local_checkpoint(
        resolve(old.unionByName(batch_latest)).localCheckpoint()
    )
    merged.write.partitionBy(partition_col).mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).parquet(store_dir)
    return touched
