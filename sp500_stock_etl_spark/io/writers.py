"""Sinks (SURVEY.md §2.2).

- K1: fully-quoted CSV reproducing the reference's pandas writer
  (dags/sp500_dag.py.py:234-242): QUOTE_ALL, '%.4f' floats, '' for
  NULL, yyyy-MM-dd dates, header. An ``s3a://`` path subsumes the
  separate S3 upload task (K2) — one committer, no /tmp staging.
- K3: warehouse load → a date-partitioned parquet table. At 100 TB
  this is the layout that makes dynamic partition pruning work for
  every date-ranged query (SURVEY.md §7.4).
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


def write_bucketed_table_atomic(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 16,
    path: str | None = None,
) -> None:
    """Concurrency-hardened ``write_bucketed_table``: stage, then
    publish with one atomic rename.

    Motivation (r9 watch item → r9 verdict item 3): one transient
    ``FileAlreadyExistsException`` was seen in a signature-store delta
    write under the 8-thread qps mix. FileOutputCommitter stages task
    attempts under ``$path/_temporary/$appAttemptId`` — appAttemptId
    is a constant 0 in local/client mode, so any two write jobs that
    ever share a destination path (retry, replay, or two invocations
    racing to the same store) share one staging namespace and can
    collide on attempt files. Rather than waiting for a recurrence:

    1. Data lands in a per-invocation staging directory
       ``{path}.__stage__{uuid}`` — a committer namespace no other
       write job can ever share (uuid4 per call).
    2. One ``os.rename(stage, path)`` publishes it. POSIX rename is
       atomic, so readers see the old store or the new one, never a
       half-written directory. If ``path`` exists (overwrite replay),
       it is first renamed aside and removed after publish — each
       individual rename stays atomic.
    3. The catalog entry is re-created OVER the published files
       (``CREATE TABLE ... CLUSTERED BY ... LOCATION``); bucket ids
       live in the file names (``..._00007.c000``), so the bucketed
       no-exchange join layout survives the rename (pinned in
       tests/test_compaction.py::test_atomic_bucketed_write).

    Cluster note: this is the local-filesystem realization of a
    commit protocol. On HDFS the same rename is atomic; on S3 the
    production analogue is a metadata-swap table format — the staged
    layout maps onto it directly.

    Requires ``path`` (the mechanism IS the path swap); staging is a
    sibling of ``path`` so the rename never crosses a filesystem.
    """
    import os
    import shutil
    import uuid

    if path is None:
        raise ValueError("write_bucketed_table_atomic requires an explicit path")
    spark = df.sparkSession
    tok = uuid.uuid4().hex
    stage_path = f"{path}.__stage__{tok}"
    stage_table = f"{table}__stage_{tok}"
    write_bucketed_table(df, stage_table, bucket_col, n_buckets, path=stage_path)
    # External table: DROP removes only the catalog entry, files stay.
    spark.sql(f"DROP TABLE IF EXISTS {stage_table}")

    # Publish loop: if a concurrent writer re-creates ``path`` between
    # our rename-aside and rename-in, the rename-in fails cleanly
    # (EEXIST/ENOTEMPTY — never a partial mix); take the racer's
    # publish aside and retry. Last writer wins; every attempt is a
    # pair of atomic renames, so readers always see a complete store.
    for attempt in range(50):
        old_path = None
        if os.path.exists(path):
            old_path = f"{path}.__old__{tok}_{attempt}"
            try:
                os.rename(path, old_path)
            except OSError:
                # A racer moved ``path`` between our exists() check and
                # the rename-aside (both atomic renames — never a mix).
                # Nothing of ours changed state; retry from the top.
                continue
        try:
            os.rename(stage_path, path)
        except OSError:
            if old_path is not None:
                # Restore the previous store BEFORE retrying, so a
                # persistent failure (EACCES, quota) can never end the
                # loop with ``path`` missing and the old data deleted.
                try:
                    os.rename(old_path, path)
                except OSError:
                    # Restore lost to a racer that already re-published
                    # ``path``: our aside copy is superseded under
                    # last-writer-wins, so dropping it is safe — but
                    # only once ``path`` demonstrably exists again.
                    if os.path.exists(path):
                        shutil.rmtree(old_path, ignore_errors=True)
                    # else: leave the aside copy on disk for manual
                    # recovery; the RuntimeError below names the stage.
            continue
        if old_path is not None:
            shutil.rmtree(old_path, ignore_errors=True)
        break
    else:
        raise RuntimeError(
            f"atomic publish to {path!r} lost 50 straight races; "
            f"staged data left at {stage_path!r} (any prior store is "
            f"restored at {path!r} or preserved at a .__old__ sibling)"
        )

    # Catalog publish is NOT atomic (DROP then CREATE): Spark's session
    # catalog has no v1 CREATE OR REPLACE, so a concurrent reader of
    # ``table`` between the two statements can see TABLE_NOT_FOUND, and
    # two writers to the SAME table name can collide on CREATE. The
    # FILE publish above is what is atomic; concurrent callers must use
    # distinct table names (current callers do, via the per-invocation
    # tok) and share only the path.
    schema_ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    )
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(
        f"CREATE TABLE {table} ({schema_ddl}) USING parquet "
        f"CLUSTERED BY (`{bucket_col}`) SORTED BY (`{bucket_col}`) "
        f"INTO {n_buckets} BUCKETS LOCATION '{path}'"
    )


def compact_parquet(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target_file_bytes)`` files.

    The operational tool every streaming/incremental sink eventually
    needs — availableNow micro-batches and per-partition overwrites
    accumulate files far smaller than a scan-efficient split, and scan
    cost at 100 TB is dominated by file-open overhead once files drop
    below ~tens of MB. Sizing uses the filesystem's own byte count
    (works for any Hadoop scheme, s3a included), not a row-count
    heuristic.

    Rewrites via a temp directory then swaps. The swap is NOT atomic
    for concurrent readers (plain parquet has no snapshot protocol —
    a table format's transactional rewrite is the production answer);
    run it in the maintenance window that owns the table.

    Returns {files_before, files_after, bytes}.
    """
    import math

    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    src = jvm.org.apache.hadoop.fs.Path(path)
    fs = src.getFileSystem(hconf)

    def _parquet_files(p) -> int:
        n = 0
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if st.isDirectory():
                n += _parquet_files(st.getPath())
            elif name.endswith(".parquet"):
                n += 1
        return n

    # A flat coalesce rewrite would silently flatten a Hive partition
    # layout — refuse rather than corrupt; partitioned tables compact
    # per-partition (or via a table format's rewrite action).
    for st in fs.listStatus(src):
        if st.isDirectory() and "=" in st.getPath().getName():
            raise ValueError(
                f"compact_parquet: {path} is Hive-partitioned "
                f"({st.getPath().getName()}); compact each partition "
                "directory individually"
            )

    total = fs.getContentSummary(src).getLength()
    files_before = _parquet_files(src)
    n_out = max(1, math.ceil(total / target_file_bytes))
    if files_before <= n_out:
        return {
            "files_before": files_before,
            "files_after": files_before,
            "bytes": total,
        }

    tmp = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__compact_tmp")
    # coalesce, not repartition: narrowing to n_out needs no shuffle.
    spark.read.parquet(path).coalesce(n_out).write.mode("overwrite").parquet(
        str(tmp)
    )
    # Swap via rename-aside so a crash at any point leaves a complete
    # copy under either the table path or <path>__compact_old — never
    # an empty table path (the old delete-then-rename had that hole).
    old = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__compact_old")
    if fs.exists(old):
        fs.delete(old, True)
    fs.rename(src, old)
    fs.rename(tmp, src)
    fs.delete(old, True)
    return {
        "files_before": files_before,
        "files_after": _parquet_files(src),
        "bytes": total,
    }


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
