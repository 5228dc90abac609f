"""The benchmark's workloads: what one op runs and how its output is
checked.

A workload has ``names`` (its distinct ops), ``timed_passes``,
``input_dir`` and ``input_bytes``, and:

- ``prepare()``: computes every expected result with DuckDB (a query
  workload imports the registry first, so tracing must be installed
  before it); returns the seconds spent in DuckDB, which the benchmark
  leaves out of ``setup_s``;
- ``build(spark, name)``: the op's result DataFrame; every eager Spark
  action the op needs happens inside it, and the caller runs the final
  action (``toPandas``);
- ``check(name, pdf)``: None, or why the output is wrong.
"""

from __future__ import annotations

import importlib.util
import os
import time

import duckdb

from inputs import write_stock_csv, write_tables
from sp500_stock_etl_spark.functions.rounding import sql_round
from sp500_stock_etl_spark.io import readers, writers
from sp500_stock_etl_spark.plans import stock_pipeline

# Queries drawn by each query workload, all with a DuckDB oracle in the
# registry. The sets are sized so that one run, warm-up pass included,
# takes about 30-40 s (see README.md).
QUERY_SETS = {
    "query_mix": (
        "filtered_scan_projection",
        "qa_aggregate",
        "grouped_agg_pricing",
        "broadcast_star_join",
        "asof_join_events",
        "star_chain_q5",
        "tpch_q6_forecast_revenue",
        "tpch_q9_profit",
        "indicator_bollinger_bands",
    ),
    "dedup_stream": (
        "dedup_minhash_lsh",
        "dedup_prefix_jaccard",
        "dedup_connected_components",
        "streaming_dedup_keys",
        "streaming_tumbling_counts",
    ),
}
# Timed passes per run (more if a run has not yet measured --seconds):
# enough ops that one run's throughput is steady, within the run budget.
TIMED_PASSES = {"etl_backfill": 2, "query_mix": 2, "dedup_stream": 1}
QUERY_SF = 0.01
ETL_SYMBOLS, ETL_DAYS = 100, 100

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_parity():
    """tests/parity.py: the canonical, order-insensitive row form the
    repository's oracle tests compare with."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_parity", os.path.join(ROOT, "tests", "parity.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _compare(parity, pdf, want_cols: list[str], want_rows: list) -> str | None:
    if sorted(pdf.columns) != want_cols:
        return f"columns differ: got {sorted(pdf.columns)} want {want_cols}"
    got = parity._pdf_canon(pdf)
    if len(got) != len(want_rows):
        return f"row count differs: got {len(got)} want {len(want_rows)}"
    for i, (a, b) in enumerate(zip(got, want_rows)):
        if a != b:
            return f"values differ at sorted row {i}: got {a} want {b}"
    return None


class QueryWorkload:
    """Registry queries over generated tables, checked against their
    registry oracles run by DuckDB over the same files."""

    def __init__(self, name: str, work_dir: str, seed: int) -> None:
        self.names = list(QUERY_SETS[name])
        self.timed_passes = TIMED_PASSES[name]
        self.input_dir = os.path.join(work_dir, "inputs")
        write_tables(self.input_dir, seed, QUERY_SF)
        self.input_bytes = dir_bytes(self.input_dir)
        self._parity = _load_parity()

    def prepare(self) -> float:
        from sp500_stock_etl_spark.plans.registry import all_queries

        self._queries = all_queries()
        t0 = time.perf_counter()
        self._expected = {}
        con = self._parity.duckdb_connect(self.input_dir)
        try:
            for name in self.names:
                pdf = con.execute(self._queries[name].oracle).df()
                self._expected[name] = (sorted(pdf.columns), self._parity._pdf_canon(pdf))
        finally:
            con.close()
        return time.perf_counter() - t0

    def build(self, spark, name: str):
        return self._queries[name].spark_fn(spark, self.input_dir)

    def check(self, name: str, pdf) -> str | None:
        return _compare(self._parity, pdf, *self._expected[name])


class EtlWorkload:
    """The reference pipeline as a history backfill: one op is a full
    pass CSV → cleanse → metrics → quoted CSV + date-partitioned table →
    read back → QA summary. The QA summary, the table and the CSV are
    each checked against DuckDB SQL over the generated CSV."""

    names = ["etl_pass"]
    COLUMNS = (
        "Date", "Symbol", "Open", "High", "Low", "Close", "Volume",
        "Close_Change", "Close_Pct_Change", "Daily_Range", "Daily_Range_Pct",
    )

    def __init__(self, name: str, work_dir: str, seed: int) -> None:
        self.timed_passes = TIMED_PASSES[name]
        self.input_dir = os.path.join(work_dir, "inputs")
        os.makedirs(self.input_dir)
        self.csv_path = os.path.join(self.input_dir, "quotes.csv")
        write_stock_csv(self.csv_path, seed, ETL_SYMBOLS, ETL_DAYS)
        self.input_bytes = os.path.getsize(self.csv_path)
        self.out_dir = os.path.join(work_dir, "out")
        self.csv_out = os.path.join(self.out_dir, "stock_csv")
        self.table_out = os.path.join(self.out_dir, "stock_table")
        self._parity = _load_parity()

    def prepare(self) -> float:
        t0 = time.perf_counter()
        self._con = con = duckdb.connect()
        tokens = ", ".join(f"'{t}'" for t in readers.NULL_IF_TOKENS)
        con.execute(
            f"CREATE MACRO cleansed(x) AS CASE WHEN trim(x) IN ({tokens}) THEN NULL ELSE trim(x) END"
        )
        # normalize_quotes + stock_metrics in SQL: the window runs over
        # every row, then rows missing Date/Symbol/Close are dropped.
        # Prices are never zero, so the pct change needs no ±inf branch.
        con.execute(f"""
            CREATE TABLE expected AS
            WITH clean AS (
                SELECT CAST(try_strptime(cleansed("Date"), '%m/%d/%Y') AS DATE) AS "Date",
                       cleansed(Symbol) AS Symbol,
                       TRY_CAST(cleansed(Open) AS DOUBLE) AS Open,
                       TRY_CAST(cleansed(High) AS DOUBLE) AS High,
                       TRY_CAST(cleansed(Low) AS DOUBLE) AS Low,
                       TRY_CAST(cleansed(Close) AS DOUBLE) AS Close,
                       CAST(trunc(TRY_CAST(cleansed(Volume) AS DOUBLE)) AS BIGINT) AS Volume
                FROM read_csv('{self.csv_path}', header = true, all_varchar = true)
            ), lagged AS (
                SELECT *, lag(Close) OVER (PARTITION BY Symbol ORDER BY "Date" NULLS FIRST) AS prev
                FROM clean
            )
            SELECT "Date", Symbol, Open, High, Low, Close, Volume,
                   {sql_round('coalesce(Close - prev, 0.0)', 4)} AS Close_Change,
                   {sql_round('coalesce((Close / prev - 1.0) * 100.0, 0.0)', 4)} AS Close_Pct_Change,
                   {sql_round('High - Low', 4)} AS Daily_Range,
                   {sql_round('coalesce((High - Low) / Low * 100.0, 0.0)', 4)} AS Daily_Range_Pct
            FROM lagged
            WHERE "Date" IS NOT NULL AND Symbol IS NOT NULL AND Close IS NOT NULL
        """)
        nulls = ", ".join(
            f'count(*) FILTER (WHERE "{c}" IS NULL) AS "nulls_{c}"' for c in self.COLUMNS[:7]
        )
        qa = con.execute(
            "SELECT count(*) AS row_count, count(DISTINCT Symbol) AS distinct_keys, "
            f'min("Date") AS min_date, max("Date") AS max_date, {nulls} FROM expected'
        ).df()
        self._qa = (sorted(qa.columns), self._parity._pdf_canon(qa))
        self.verified_rows = int(qa["row_count"][0])  # CSV rows that reach the table
        return time.perf_counter() - t0

    def build(self, spark, name: str):
        # Module attributes, looked up per call, so traced wrappers apply.
        raw = readers.read_stock_csv(spark, self.csv_path)
        stock = stock_pipeline.stock_metrics(stock_pipeline.normalize_quotes(raw))
        writers.write_quoted_csv(stock, self.csv_out)
        writers.write_partitioned_table(stock, self.table_out, partition_col="Date")
        return stock_pipeline.quality_report(spark.read.parquet(self.table_out))

    def check(self, name: str, pdf) -> str | None:
        bad = _compare(self._parity, pdf, *self._qa)
        if bad:
            return f"QA summary: {bad}"
        cols = ", ".join(f'"{c}"' for c in self.COLUMNS)
        table = (
            f"SELECT {cols} FROM read_parquet('{self.table_out}/*/*.parquet', "
            "hive_partitioning = true, hive_types = {'Date': DATE})"
        )
        typed = ", ".join(
            f'CAST(NULLIF("{c}", \'\') AS {t}) AS "{c}"'
            for c, t in zip(self.COLUMNS, ["DATE", "VARCHAR"] + ["DOUBLE"] * 4 + ["BIGINT"] + ["DOUBLE"] * 4)
        )
        csv = f"SELECT {typed} FROM read_csv('{self.csv_out}/*.csv', header = true, all_varchar = true)"
        for what, sql in (("table", table), ("CSV", csv)):
            extra, missing = self._con.execute(
                f"SELECT (SELECT count(*) FROM ({sql} EXCEPT ALL SELECT {cols} FROM expected)), "
                f"(SELECT count(*) FROM (SELECT {cols} FROM expected EXCEPT ALL {sql}))"
            ).fetchone()
            if extra or missing:
                return f"{what}: {extra} unexpected rows, {missing} missing rows"
        return None


WORKLOADS = {
    "etl_backfill": EtlWorkload,
    "query_mix": QueryWorkload,
    "dedup_stream": QueryWorkload,
}
