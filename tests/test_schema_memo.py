"""``load_table`` memoizes the parquet schema Spark inferred for a table
file: a hit must give the same DataFrame schema inference gives, start
no Spark job, and never outlive a rewrite of the file or a change of
the confs that steer inference."""

from __future__ import annotations

import datetime as dt
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sp500_stock_etl_spark.io import readers
from sp500_stock_etl_spark.io.readers import load_table
from sp500_stock_etl_spark.schemas import TESTDATA_TABLES

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs(spark, fn):
    """(result of fn(), number of Spark jobs fn started)."""
    sc = spark.sparkContext
    group = f"schema-memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _forget(path: str) -> None:
    """Drop every memo entry for ``path`` so the next scan infers."""
    for key in [k for k in readers._SCHEMA_MEMO if k[0].endswith(path)]:
        del readers._SCHEMA_MEMO[key]


def _assert_hit_equals_inferred(spark, sf_dir: str, name: str) -> None:
    _forget(f"{sf_dir}/{name}.parquet")
    inferred, cold_jobs = _jobs(spark, lambda: load_table(spark, sf_dir, name).schema)
    memoized, warm_jobs = _jobs(spark, lambda: load_table(spark, sf_dir, name).schema)
    assert cold_jobs >= 1, f"{name}: the first scan should infer"
    assert warm_jobs == 0, f"{name}: a memo hit started {warm_jobs} job(s)"
    # StructType equality covers names, types, nullability and metadata;
    # the JSON form pins the same thing in a readable diff.
    assert memoized == inferred
    assert memoized.json() == inferred.json()


@pytest.mark.parametrize("name", TESTDATA_TABLES)
def test_memo_hit_equals_inference(spark, sf_dir, name):
    _assert_hit_equals_inferred(spark, sf_dir, name)


def _write_events(path: str, ts_type: pa.DataType) -> None:
    when = [dt.datetime(2024, 1, 1, 0, 0, s, 123456) for s in range(3)]
    ts = pa.array(when, type=pa.timestamp("us")).cast(ts_type)
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": ts,
            "user_id": pa.array([7, 7, 8], pa.int64()),
            "event_type": ["click", "view", "click"],
            "value": [1.0, 2.5, None],
            "props": ["{}", "{}", None],
        }),
        path,
    )


@pytest.mark.parametrize(
    "ts_type, spark_type",
    [
        (pa.timestamp("ns"), "bigint"),
        (pa.timestamp("us"), "timestamp_ntz"),
        (pa.timestamp("us", tz="UTC"), "timestamp"),
    ],
    ids=["int64_nanos", "timestamp_ntz", "timestamp"],
)
def test_events_ts_variants_keep_their_type(spark, tmp_path, ts_type, spark_type):
    _write_events(str(tmp_path / "events.parquet"), ts_type)
    _assert_hit_equals_inferred(spark, str(tmp_path), "events")
    key = next(k for k in readers._SCHEMA_MEMO if k[0].endswith(f"{tmp_path}/events.parquet"))
    assert readers._SCHEMA_MEMO[key]["ts"].dataType.simpleString() == spark_type
    # Every variant still normalizes to the same instants.
    df = load_table(spark, str(tmp_path), "events").orderBy("event_id")
    got = [r.us for r in df.selectExpr("unix_micros(ts) AS us").collect()]
    midnight = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 10**6
    assert got == [midnight + s * 10**6 + 123456 for s in range(3)]


def _write_region(path: str, name_col: str, rows: int) -> None:
    pq.write_table(
        pa.table({
            "r_regionkey": pa.array(range(rows), pa.int32()),
            name_col: [f"R{i}" for i in range(rows)],
        }),
        path,
    )


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    _write_region(path, "r_name", 3)
    _, cold = _jobs(spark, lambda: load_table(spark, str(tmp_path), "region"))
    _, warm = _jobs(spark, lambda: load_table(spark, str(tmp_path), "region"))
    assert cold >= 1
    assert warm == 0

    before = os.stat(path)
    _write_region(path, "r_label", 5)
    os.utime(path, (before.st_atime + 10, before.st_mtime + 10))
    after = os.stat(path)
    assert after.st_mtime != before.st_mtime and after.st_size != before.st_size
    # A stale memo would hand back the old columns without a job; a new
    # inference sees the renamed column and the guard rejects it.
    with pytest.raises(ValueError, match="do not match"):
        load_table(spark, str(tmp_path), "region")


def test_flipping_nanos_as_long_reinfers(spark, tmp_path):
    _write_events(str(tmp_path / "events.parquet"), pa.timestamp("ns"))
    load_table(spark, str(tmp_path), "events")
    _, warm = _jobs(spark, lambda: load_table(spark, str(tmp_path), "events"))
    assert warm == 0
    spark.conf.set(NANOS_AS_LONG, "false")
    try:
        # Without nanosAsLong Spark rejects TIMESTAMP(NANOS): the memoized
        # bigint schema must not be reused under the flipped conf.
        with pytest.raises(Exception, match="(?i)nanos"):
            load_table(spark, str(tmp_path), "events")
    finally:
        spark.conf.set(NANOS_AS_LONG, "true")
    _, warm = _jobs(spark, lambda: load_table(spark, str(tmp_path), "events"))
    assert warm == 0


def test_directory_dataset_is_not_memoized(spark, tmp_path):
    table_dir = tmp_path / "region.parquet"
    table_dir.mkdir()
    _write_region(str(table_dir / "part-0.parquet"), "r_name", 3)
    entries = len(readers._SCHEMA_MEMO)
    for _ in range(2):
        df, jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "region"))
        assert jobs >= 1
    assert len(readers._SCHEMA_MEMO) == entries
    assert df.count() == 3
