"""Sessions from ``get_spark`` list a read's input files on the driver.

Spark lists a read of more than ``parallelPartitionDiscovery.threshold``
paths with a Spark job of one task per path; ``get_spark`` raises the
threshold so a local session never starts that job. The tests check
that a 100-partition directory and a 100-file explicit read start no
job, that driver listing finds the same files and rows as Spark's
default listing job, and that ``harden`` leaves the threshold of an
external session alone.
"""

from __future__ import annotations

import os
import uuid
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import LongType, StructField, StructType

from sp500_stock_etl_spark.session import harden

THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
N_PATHS = 100
SCHEMA = StructType([StructField("k", LongType()), StructField("v", LongType())])
PART_SCHEMA = StructType(SCHEMA.fields + [StructField("d", LongType())])


def _jobs(spark, fn):
    """(result of fn(), number of Spark jobs fn started)."""
    sc = spark.sparkContext
    group = f"file-listing-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@contextmanager
def _threshold(spark, value: str):
    old = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, value)
    try:
        yield
    finally:
        spark.conf.set(THRESHOLD, old)


def _write(path: str, d: int) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.table({"k": pa.array([d, d + 1000], pa.int64()),
                  "v": pa.array([d * 7, d * 7 + 1], pa.int64())}),
        path,
    )


@pytest.fixture(scope="module")
def reads(spark, tmp_path_factory):
    """Each multi-path read, as a callable that builds its DataFrame."""
    root = tmp_path_factory.mktemp("listing")
    for d in range(N_PATHS):
        _write(str(root / "partitioned" / f"d={d}" / "part-0.parquet"), d)
    files = [str(root / "flat" / f"f{i:03d}.parquet") for i in range(N_PATHS)]
    for i, path in enumerate(files):
        _write(path, i)
    return {
        "dir": lambda: spark.read.schema(PART_SCHEMA).parquet(str(root / "partitioned")),
        "files": lambda: spark.read.schema(SCHEMA).parquet(*files),
    }


def _snapshot(df):
    return sorted(df.inputFiles()), sorted(map(tuple, df.collect()))


@pytest.mark.parametrize("read", ["dir", "files"])
def test_multi_path_read_lists_on_driver(spark, reads, read):
    df, jobs = _jobs(spark, reads[read])
    assert jobs == 0, f"{read}: the read started {jobs} listing job(s)"
    assert len(df.inputFiles()) == N_PATHS
    # The counter sees Spark's listing job when the default is back.
    with _threshold(spark, "32"):
        _, default_jobs = _jobs(spark, reads[read])
    assert default_jobs >= 1


@pytest.mark.parametrize("read", ["dir", "files"])
def test_driver_listing_matches_listing_job(spark, reads, read):
    driver = _snapshot(reads[read]())
    with _threshold(spark, "32"):
        job = _snapshot(reads[read]())
    assert driver == job
    assert len(driver[1]) == 2 * N_PATHS


def test_harden_keeps_an_explicit_threshold(spark):
    with _threshold(spark, "77"):
        harden(spark)
        assert spark.conf.get(THRESHOLD) == "77"
