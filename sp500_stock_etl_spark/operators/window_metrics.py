"""Window / time-series operators (SURVEY.md §2.5 W1-W3 + extensions).

The reference computes per-symbol lag metrics inside a sequential
Python loop (dags/sp500_dag.py.py:95, 161-162): ``Close.diff()`` and
``Close.pct_change()`` with ``fillna(0)``, i.e. a hidden window spec
``PARTITION BY Symbol ORDER BY Date`` whose partition-first row is
coerced to 0 rather than NULL (SURVEY.md §1.5).

Here that is one declarative window. Scale notes:
- one shuffle on the partition key, reused by every lag/lead/rolling
  expression over the same window spec (Catalyst collapses them into
  a single Window exec after a single Exchange);
- tie-breaker order columns make results deterministic under
  parallelism (pandas relied on yfinance's row order);
- no UDFs — everything is whole-stage-codegen'd JVM expressions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec, functions as F

from ..caching import track_persist
from ..functions.rounding import round_half_up


def symbol_window(partition_col: str, order_cols: Sequence[str]) -> WindowSpec:
    """The reference's hidden window spec, made explicit (W3)."""
    return Window.partitionBy(partition_col).orderBy(*order_cols)


def lag_change(value: Column, w: WindowSpec) -> Column:
    """W1: ``diff().fillna(0)`` — partition-first row is 0.0, not NULL
    (dags/sp500_dag.py.py:161)."""
    return F.coalesce(value - F.lag(value, 1).over(w), F.lit(0.0))


def lag_pct_change(value: Column, w: WindowSpec) -> Column:
    """W2: ``pct_change().fillna(0) * 100`` (dags/sp500_dag.py.py:162).

    Exact pandas semantics, including the zero-divisor corner: pandas
    division by zero yields ±inf (``fillna(0)`` only replaces NaN), so
    a zero previous close with a nonzero current close emits ±Infinity
    here too; 0/0 is NaN in pandas → filled to 0. Only the
    partition-first row's NULL (no previous value) coalesces to 0.0 —
    the reference multiplies *after* fillna so that row is exactly
    0.0. try_divide keeps NULL-on-zero semantics under ANSI mode so
    the zero-divisor branch is taken explicitly, not via an error.
    """
    prev = F.lag(value, 1).over(w)
    raw = (F.try_divide(value, prev) - F.lit(1.0)) * F.lit(100.0)
    return (
        F.when(
            prev == F.lit(0.0),
            F.when(value > 0, F.lit(float("inf")))
            .when(value < 0, F.lit(float("-inf")))
            .otherwise(F.lit(0.0)),
        )
        .otherwise(F.coalesce(raw, F.lit(0.0)))
    )


def with_lag_metrics(
    df: DataFrame,
    partition_col: str,
    order_cols: Sequence[str],
    value_col: str,
    change_col: str = "close_change",
    pct_change_col: str = "close_pct_change",
    decimals: int = 4,
) -> DataFrame:
    """Attach the reference's two derived time-series columns, rounded
    per its policy (round(4) on derived, dags/sp500_dag.py.py:178)."""
    w = symbol_window(partition_col, order_cols)
    v = F.col(value_col)
    return df.withColumns(
        {
            change_col: round_half_up(lag_change(v, w), decimals),
            pct_change_col: round_half_up(lag_pct_change(v, w), decimals),
        }
    )


def top_k_per_group(
    df: DataFrame,
    partition_col: str,
    rank_exprs: Column | Sequence[Column],
    k: int,
    rank_col: str = "rnk",
) -> DataFrame:
    """Ranking extension: top-k rows per partition via row_number.

    At scale this is the one window pattern that *should* be a window
    (not a groupBy + sort-limit): a single hash exchange on the
    partition key, then a bounded per-partition sort; AQE handles skew.
    Pass a full tie-break order for deterministic results.
    """
    if isinstance(rank_exprs, Column):
        rank_exprs = [rank_exprs]
    w = Window.partitionBy(partition_col).orderBy(*rank_exprs)
    return df.withColumn(rank_col, F.row_number().over(w)).where(F.col(rank_col) <= k)


def with_global_rank(
    df: DataFrame,
    order_cols: Sequence[str],
    rank_col: str = "global_rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact dense global row-number WITHOUT the single-task global
    window. ``Window.orderBy(...)`` with no partition key funnels
    every row through ONE task — the classic 100 TB bottleneck hiding
    inside any unpartitioned ``row_number``/``ntile``/``percent_rank``.
    The scalable equivalent is the range-sort + offset pattern Spark's
    own sortBy uses for output order:

    1. range-repartition + sort within partitions on the order key
       (a PARALLEL total order — every partition holds a contiguous
       key range);
    2. count rows per partition (tiny: one row per partition) and
       prefix-sum the counts into per-partition OFFSETS (a window
       over the partition-count frame — numPartitions rows, not data);
    3. broadcast-join the offsets back and add the per-partition
       ``row_number`` — rank = offset + local row number, exact
       because the range sort makes cross-partition order total.

    ``order_cols`` must be a TOTAL order (include a unique tiebreak
    column) or ranks of tied rows are partition-placement-dependent.
    The sorted frame is persisted (registered for release) because
    the counts pass and the final join both read it.
    """
    spark = df.sparkSession
    n_parts = num_partitions or spark.sparkContext.defaultParallelism
    cols = [F.col(c) for c in order_cols]
    ordered = track_persist(
        df.repartitionByRange(n_parts, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("__pid__", F.spark_partition_id())
    )
    counts = ordered.groupBy("__pid__").agg(F.count(F.lit(1)).alias("__n__"))
    # Unpartitioned window, but over ONE ROW PER PARTITION — metadata
    # scale, never data scale.
    offsets = counts.select(
        "__pid__",
        (F.sum("__n__").over(Window.orderBy("__pid__")) - F.col("__n__"))
        .alias("__off__"),
    )
    wlocal = Window.partitionBy("__pid__").orderBy(*cols)
    return (
        ordered.join(F.broadcast(offsets), "__pid__")
        .withColumn(
            rank_col, (F.col("__off__") + F.row_number().over(wlocal))
        )
        .drop("__pid__", "__off__")
    )


def ntile_from_rank(rank: Column, n_rows: Column, k: int) -> Column:
    """SQL ``ntile(k)`` bucket from an exact global rank (1-based) and
    the total row count: the first ``n_rows % k`` buckets get
    ``n_rows div k + 1`` rows, the rest ``n_rows div k`` — bit-exact
    ntile semantics, computed map-side from a broadcast count instead
    of a single-task global window."""
    q = (n_rows / k).cast("long")
    rem = n_rows - q * k
    big = q + 1
    cut = big * rem  # rows covered by the larger buckets
    return (
        F.when(rank <= cut, ((rank - 1) / big).cast("long") + 1)
        .otherwise(rem + ((rank - 1 - cut) / F.greatest(q, F.lit(1).cast("long"))).cast("long") + 1)
        .cast("int")
    )


def with_global_cumsum(
    df: DataFrame,
    order_cols: Sequence[str],
    value_col: str,
    cumsum_col: str = "global_cumsum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact running total over a GLOBAL order without the single-task
    unpartitioned window — same range-sort + broadcast-offset pattern
    as ``with_global_rank``, with per-partition VALUE SUMS prefix-
    summed into exclusive offsets: cumsum = partition offset + local
    running sum. Exact for integer/decimal values (the offsets are
    per-partition sums, so ordering inside the prefix-sum never
    touches float addition order). ``order_cols`` must be a total
    order."""
    spark = df.sparkSession
    n_parts = num_partitions or spark.sparkContext.defaultParallelism
    cols = [F.col(c) for c in order_cols]
    ordered = track_persist(
        df.repartitionByRange(n_parts, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("__pid__", F.spark_partition_id())
    )
    sums = ordered.groupBy("__pid__").agg(F.sum(value_col).alias("__s__"))
    offsets = sums.select(
        "__pid__",
        (F.sum("__s__").over(Window.orderBy("__pid__")) - F.col("__s__"))
        .alias("__soff__"),
    )
    wlocal = (
        Window.partitionBy("__pid__")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ordered.join(F.broadcast(offsets), "__pid__")
        .withColumn(
            cumsum_col,
            F.coalesce(F.col("__soff__"), F.lit(0))
            + F.sum(value_col).over(wlocal),
        )
        .drop("__pid__", "__soff__")
    )
