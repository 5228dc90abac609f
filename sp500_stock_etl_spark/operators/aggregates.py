"""Aggregation operators (SURVEY.md §2.8 A1-A5 + §7.3 extensions).

The reference's aggregates are data-quality summaries: row count,
count-distinct, min/max date, per-column null counts
(dags/sp500_dag.py.py:219-227) and the same shape in-warehouse
(:381-386 — whose trailing-comma SQL bug we fix, SURVEY.md §7.5.6).

Scale notes:
- the QA summary is ONE pass over the data: all counts/min/max/null
  counts fused into a single partial+final aggregate (the reference
  does a separate pandas pass per statistic);
- exact count-distinct shuffles by value; monitoring paths at 100 TB
  should use approx_count_distinct (HLL) — provided as a variant;
- float sums are order-dependent across partitions, so any sum that
  must be reproducible (oracle-matched, or rerun-stable at scale) is
  computed on DECIMAL(18,4) — exact, associative, no ulp drift.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def dec(col: Column | str, scale: int = 4) -> Column:
    """Exact, order-independent summation domain for doubles."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal(18,{scale})")


def qa_summary(
    df: DataFrame,
    distinct_col: str,
    date_col: str,
    null_check_cols: list[str],
) -> DataFrame:
    """A1-A5 in one fused pass (count / count-distinct / min / max /
    per-column null counts)."""
    aggs = [
        F.count(F.lit(1)).alias("row_count"),
        F.count_distinct(F.col(distinct_col)).alias("distinct_keys"),
        F.min(F.to_date(date_col)).alias("min_date"),
        F.max(F.to_date(date_col)).alias("max_date"),
    ]
    aggs += [
        F.count(F.when(F.col(c).isNull(), F.lit(1))).alias(f"nulls_{c}")
        for c in null_check_cols
    ]
    return df.agg(*aggs)
