"""SparkSession factory + runtime hardening.

The reference runs eagerly in a single Airflow worker process
(dags/sp500_dag.py.py:95 sequential symbol loop). Here the unit of
parallelism is the Spark task; this module centralizes the configs
that make the same plans work on local[32] for tests and on a
1000-executor cluster at 100 TB:

- AQE on (runtime coalescing + skew-join splitting),
- shuffle partitions sized to cores locally (cluster: ~2-3x total
  cores, or let AQE coalesce from a high initial number),
- UTC session timezone so timestamp semantics are environment-free,
- ANSI off so lossy casts / div-by-zero yield NULL like the
  reference's ``pd.to_numeric(errors='coerce')``
  (dags/sp500_dag.py.py:175); hot paths still use try_* functions so
  they are correct under either setting.
- a generated-code cache large enough for every registry plan, so a
  warm session reuses compiled classes instead of recompiling (and
  re-JITting) them on each run: 5,000 entries against the 3,139
  classes one pass over the registry compiles.
- input files listed on the driver: Spark lists a read of more than
  ``parallelPartitionDiscovery.threshold`` (default 32) paths with a
  Spark job of one task per path. In ``local[N]`` those tasks run in
  the same JVM as the driver, at about 12 ms CPU each, so the job costs
  far more than the listing it distributes. ``get_spark`` raises the
  threshold past any path count, so every multi-path read (a
  date-partitioned table, a manifest generation's explicit file list)
  lists serially on the driver. On a 4-vCPU host, local[4]
  (BASELINE.md §20):

  | read | job listing (32) | driver listing |
  |---|---|---|
  | dir with 100 partitions | 0.50 s, 1.41 CPU-s | 0.07 s, 0.12 CPU-s |
  | dir with 1,000 partitions | 3.71 s, 12.5 CPU-s | 0.15 s, 0.24 CPU-s |
  | dir with 5,000 partitions | 18.1 s, 61.6 CPU-s | 0.52 s, 0.58 CPU-s |
  | 300 explicit files | 1.07-1.18 s, 3.4-3.9 CPU-s | 0.06-0.09 s, 0.10-0.17 CPU-s |

  The threshold is build-time only: ``harden`` leaves it alone, so an
  external (cluster) session keeps Spark's distributed listing.
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import SparkSession

from .caching import temp_dir

# Conf set on the builder of the sessions this module creates, and never
# applied to a session we're handed (some of it must be set before the
# JVM starts; the rest is sized for local mode only).
_BUILD_TIME_CONF = {
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.sql.shuffle.partitions": None,  # filled from cpus below
    # Generated classes Spark keeps compiled (static; default 100). One
    # pass over all 256 registry plans at sf0.001 compiles 3,139 classes
    # in a cold local[4] session, and a second pass recompiles 70 (the
    # CodegenMetrics compile count; Metaspace 245 MB). A cache smaller
    # than a session's plan set evicts classes that the next run of the
    # same plan must compile, load and JIT again.
    "spark.sql.codegen.cache.maxEntries": "5000",
    # Paths a read lists on the driver before Spark starts a listing job
    # (default 32). Int.MaxValue: a local session never starts one.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": str(2**31 - 1),
}

# Conf that is runtime-settable; applied to any session we're handed
# (the verify driver owns its own SparkSession).
_RUNTIME_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "false",
    # Arrow for the (few) Pandas-UDF paths: vectorized transfer.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow batch size for every mapInPandas/pandas_udf path, pinned
    # HERE (session-wide, documented) rather than mutated inside
    # operators: 512 bounds per-batch memory when rows carry fat
    # binary payloads (multimodal decode) while keeping Arrow transfer
    # efficient for slim rows.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "512",
    # Parquet scans: keep pushdown on (explicitly, for .explain review).
    "spark.sql.parquet.filterPushdown": "true",
    # Python Data Source API: let custom sources (sources/quote_feed)
    # receive pushed filters for source-level pruning.
    "spark.sql.python.filterPushdown.enabled": "true",
    # Spark 4 rejects TIMESTAMP(NANOS) parquet (events.ts); read the
    # raw int64 and convert in the loader (io/readers.py) — integer
    # division, since double math loses precision at 1e18.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # InferFiltersFromGenerate infers `size(e)>0 AND isnotnull(e)`
    # under every explode(e); filter-pushdown then substitutes e's
    # FULL expression tree through the projections, so an exploded
    # computed array (word shingles: tokens() inlined into every
    # element_at) gets re-evaluated as O(tokens^2) regex work in a
    # Filter below the Generate. Measured on the shingle-explode
    # path: 64 s -> 1.5 s at sf0.1 (corpus_decontamination_bloom).
    # The rule only ever skips empty generator inputs — a no-op for
    # our corpora — and excluding it is optimization-neutral for
    # correctness (verified: full oracle-parity suite green).
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}


def default_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on Python WORKERS.

    cloudpickle serializes module-level functions by reference
    (module + qualname), so any mapInPandas/applyInPandas* closure
    needs the worker to ``import sp500_stock_etl_spark`` — which only
    works by accident when the driver's cwd is the repo root. Ship a
    zip via ``addPyFile`` once per SparkContext so UDF-bearing plans
    run no matter where the driver session was created from.
    """
    sc = spark.sparkContext
    if getattr(sc, "_sg_pkg_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(
        temp_dir("sg_pkg_"), "sp500_stock_etl_spark.zip"
    )
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    z.write(full, os.path.relpath(full, os.path.dirname(pkg_dir)))
    sc.addPyFile(zpath)
    sc._sg_pkg_shipped = True


def get_spark(app_name: str = "sp500-stock-etl-spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) a local session sized for this machine."""
    cpus = cpus or default_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.ui.enabled", "false")
    )
    conf = {**_BUILD_TIME_CONF, "spark.sql.shuffle.partitions": str(cpus), **_RUNTIME_CONF}
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


def harden(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to an externally-created session.

    Called at the top of every registry query so results do not depend
    on the caller's session defaults (timezone, ANSI, AQE).
    """
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # immutable in some deployments; try_* paths still hold
            pass
    _ship_package(spark)
    return spark
