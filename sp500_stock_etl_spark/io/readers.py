"""Sources (SURVEY.md §2.1).

- Parquet scans over the testdata star schema (S4) — the canonical
  scan; Catalyst pushes filters/prunes columns into these
  automatically, which replaces the reference's manual late
  projection (dags/sp500_dag.py.py:189-194).
- A cleansing CSV reader (S3) reproducing the reference's Snowflake
  ``COPY INTO`` file format (dags/sp500_dag.py.py:367-376): header,
  optionally-quoted fields, multi-token NULL_IF
  ('NULL','null','','\\N'), TRIM_SPACE, EMPTY_FIELD_AS_NULL, and
  ON_ERROR='CONTINUE' tolerance (:377) via PERMISSIVE/DROPMALFORMED.

At 100 TB the parquet scans are partition-pruned (fact tables
partitioned by date at write time, io/writers.py) and never read
columns the plan doesn't need — verify with
``df.explain('formatted')`` → ``ReadSchema`` / ``PushedFilters``.

Inferring a parquet schema runs a footer-reading Spark job, so
``table_schema`` memoizes the schema Spark inferred for a table file
for the life of the process. Every read of a table takes its schema
from there: ``load_table`` hands it to ``spark.read.schema(...)``, and
the streaming plans hand it to ``read_stream``, which starts no job
because a file stream is given its schema rather than inferring one.
The memo key is the file's Hadoop ``FileStatus`` (qualified path,
modification time, length) plus the confs that change parquet
inference, so a rewritten file or a flipped conf is inferred again. Only regular files are memoized: a directory's
status does not change when a file inside it is rewritten, so a
directory dataset is inferred on every scan.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..schemas import SCHEMAS, TESTDATA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Snowflake NULL_IF token list (dags/sp500_dag.py.py:373).
NULL_IF_TOKENS = ("NULL", "null", "", "\\N")

# Confs whose values change the schema Spark infers from a parquet footer.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

# (qualified path, mtime, length, *inference conf values) -> inferred schema.
# Two threads that miss on the same key both infer and store equal values.
_SCHEMA_MEMO: dict[tuple, T.StructType] = {}


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> T.StructType:
    """The schema a testdata table is read with, batch or stream.

    The first lookup of a table file infers it from the footers (one
    Spark job); later lookups of the same unchanged file, under the
    same inference confs, return the memoized schema and start no job.
    See the module docstring for the memo key and why directories are
    not memoized.
    """
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TESTDATA_TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    key = _schema_key(spark, path)
    schema = _SCHEMA_MEMO.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        if key is not None:
            _SCHEMA_MEMO[key] = _check_columns(name, path, schema)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table with its ``table_schema``. Lazy;
    filters/pruning push into the scan."""
    schema = table_schema(spark, sf_dir, name)
    df = spark.read.schema(schema).parquet(f"{sf_dir}/{name}.parquet")
    return _with_event_ts(df, schema)


def read_stream(
    spark: SparkSession, landing_dir: str, schema: T.StructType, **options: str
) -> DataFrame:
    """File-stream source over the parquet files in ``landing_dir``,
    read with ``schema`` (a stream cannot infer one) and reader
    ``options`` such as ``maxFilesPerTrigger``. A stream of events
    gets the same ``ts`` normalization as ``load_table``."""
    df = spark.readStream.schema(schema).options(**options).parquet(landing_dir)
    return _with_event_ts(df, schema)


def _schema_key(spark: SparkSession, path: str) -> tuple | None:
    """Memo key for a regular file at ``path``, or None for a directory
    or a path whose status cannot be read (the reader then infers, or
    raises its usual error). The status comes through the session's
    Hadoop FileSystem, so any scheme Spark can read works."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    try:
        status = fs.getFileStatus(hpath)
    except Py4JJavaError:
        return None
    if not status.isFile():
        return None
    confs = tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)
    return (status.getPath().toString(), status.getModificationTime(), status.getLen(), *confs)


def _check_columns(name: str, path: str, schema: T.StructType) -> T.StructType:
    expected = SCHEMAS[name].fieldNames()
    if schema.fieldNames() != expected:
        raise ValueError(
            f"{path}: columns {schema.fieldNames()} do not match the "
            f"{name!r} table schema {expected}"
        )
    return schema


def _with_event_ts(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Normalize ``ts`` of an events frame read with ``schema``; other
    tables pass through."""
    if "ts" not in schema.fieldNames():
        return df
    return df.withColumn("ts", _normalize_event_ts(schema["ts"].dataType))


def _normalize_event_ts(dtype: T.DataType) -> F.Column:
    """events.ts arrives differently depending on how the generator
    wrote it; normalize every variant to session-TZ TIMESTAMP (the
    session is pinned UTC, so values are identical across variants):

    - int64: TIMESTAMP(NANOS) read as long (see session._RUNTIME_CONF);
      truncate to micros with integer division — matches how
      microsecond engines (DuckDB) read the same file.
    - timestamp_ntz: plain micros with isAdjustedToUTC=false; a bare
      cast relabels the same micros value under the UTC session.
    - timestamp: already the canonical type.
    """
    ts = F.col("ts")
    if isinstance(dtype, T.LongType):
        return F.expr("timestamp_micros(ts div 1000)")
    if isinstance(dtype, T.TimestampNTZType):
        return ts.cast("timestamp")
    return ts


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TESTDATA_TABLES)}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql paths."""
    for n in TESTDATA_TABLES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


def _null_if(col: F.Column) -> F.Column:
    """TRIM_SPACE then multi-token NULL_IF: Spark's ``nullValue`` option
    is single-token and its whitespace options skip quoted fields, so
    both become one cleansing expression (SURVEY.md §7.5.4). Trim runs
    first, as Snowflake does, so ``"  "`` → ``""`` → NULL."""
    trimmed = F.trim(col)
    return F.when(trimmed.isin(*NULL_IF_TOKENS), F.lit(None)).otherwise(trimmed)


def read_stock_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    drop_malformed: bool = False,
) -> DataFrame:
    """Cleansing CSV reader with the reference's load semantics.

    Mirrors the Snowflake file format (dags/sp500_dag.py.py:367-376):
    SKIP_HEADER=1 → header=True; FIELD_OPTIONALLY_ENCLOSED_BY='"' →
    quote='"'; TRIM_SPACE → ignore{Leading,Trailing}WhiteSpace;
    NULL_IF multi-token → post-read cleanse; ON_ERROR='CONTINUE' →
    DROPMALFORMED (else PERMISSIVE with a corrupt-record column for
    quarantine, SURVEY.md §2.13 C5).
    """
    reader = (
        spark.read.option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .option("ignoreLeadingWhiteSpace", True)
        .option("ignoreTrailingWhiteSpace", True)
        .option("mode", "DROPMALFORMED" if drop_malformed else "PERMISSIVE")
    )
    if schema is not None:
        # Read everything as string first so NULL_IF cleansing happens
        # before the lossy cast (pd.to_numeric(errors='coerce') ≈
        # try_cast, dags/sp500_dag.py.py:175).
        str_schema = T.StructType(
            [T.StructField(f.name, T.StringType()) for f in schema.fields]
        )
        df = reader.schema(str_schema).csv(path)
        cleansed = [
            _null_if(F.col(f.name)).try_cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
        return df.select(*cleansed)
    df = reader.csv(path)
    return df.select(*[_null_if(F.col(c)).alias(c) for c in df.columns])


def stock_data_from_lineitem(lineitem: DataFrame) -> DataFrame:
    """Shape the lineitem fact table into the reference's quotes model
    (FIXTURES.md §A flagship mapping): Symbol ≈ l_partkey,
    Date ≈ l_shipdate, Close ≈ l_extendedprice, plus High/Low/Open
    proxies so the Daily_Range family (dags/sp500_dag.py.py:166-167)
    is exercised on real columns.
    """
    close = F.col("l_extendedprice")
    return lineitem.select(
        F.col("l_partkey").alias("symbol"),
        F.to_date("l_shipdate").alias("trade_date"),
        close.alias("close"),
        (close * (F.lit(1.0) + F.col("l_tax"))).alias("high"),
        (close * (F.lit(1.0) - F.col("l_discount"))).alias("low"),
        F.col("l_quantity").alias("volume"),
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_number"),
    )

def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition ONLY when the plan's current
    parallelism is below the session's core count.

    A CPU-heavy narrow stage (per-doc shingling/hashing) inherits the
    scan's split count; a small single-row-group parquet file yields
    ONE task no matter how many cores exist, so the whole stage runs
    sequentially — a small-file artifact of test scale. The guard
    makes this scale-safe: at 100 TB the scan already produces far
    more splits than cores, the condition is false, and NO shuffle is
    added; at test scale the shuffled payload is the (tiny) file
    itself. Callers place this between the scan and the expensive
    narrow compute.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
