"""Technical-indicator suite over the stock view — the analytics a
user of an S&P-500 ETL actually runs downstream of the reference DAG
(dags/sp500_dag.py.py computes prev_close/pct_change at :161-176 and
stops there; SMA crossovers, VWAP, Bollinger bands, RSI, EWMA
smoothing and drawdown are the canonical next layer of that pipeline).

Stock view convention (shared with rolling_avg_sma7): symbol =
l_partkey, trade_date = date(l_shipdate), close = l_extendedprice,
deterministic row order (trade_date, order_key, line_number). The
``indicator_*`` plans take prices in integer CENTS via
``CAST(floor(close * 100) AS BIGINT)`` — both engines floor the same
IEEE double, so every downstream comparison is exact integer
arithmetic with zero float-order dependence.

Scale design (100 TB):
- Bollinger / RSI / drawdown are single-pass window functions over a
  ``PARTITION BY symbol`` sort — ONE shuffle keyed by symbol, then
  frame-local arithmetic; the per-symbol group-to-scalar reduction
  reuses the same partitioning (no second shuffle under AQE).
- Band/threshold predicates are cross-multiplied into pure BIGINT
  comparisons (e.g. ``(c*n - s)^2 > k^2 * (n*q - s^2)``) so no sqrt
  or float division ever enters a filter — survivor sets are
  deterministic across engines and partitionings. Magnitude bound:
  cents <= ~1.1e7, so every intermediate stays < 2e17 << 2^63.
- The EWMA fold is the one inherently-sequential recurrence; it runs
  as a pure Catalyst ``aggregate()`` HOF over a per-symbol
  ``array_sort(collect_list(struct(...)))`` — JVM codegen, no Python
  boundary — bounded by the per-symbol series length (trading days,
  ~10^4 worst case), never by corpus size. Same boundedness argument
  as the BPE-encode fold (queries_corpus) and the ADPCM state walk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..io.readers import load_table
from ..operators.aggregates import dec
from .registry import register


# Shared stock-view SQL prefix (oracle side). Engine side builds the
# identical frame with the DataFrame API.
_STOCK_CTE = """
stock AS (
    SELECT l_partkey AS symbol,
           CAST(l_shipdate AS DATE) AS trade_date,
           l_orderkey AS order_key,
           l_linenumber AS line_number,
           CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
    FROM lineitem
)
"""


def _stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_partkey").alias("symbol"),
        F.to_date("l_shipdate").alias("trade_date"),
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_number"),
        F.floor(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )


# ---------------------------------------------------------------------------
# Bollinger bands (20-period, k=2), exact-integer band breaks.
# mean = s/n, sigma^2 = (n*q - s^2)/n^2 over the 20-row frame; a close
# outside mean +/- 2*sigma is detected WITHOUT sqrt by comparing
# (c*n - s)^2 against 4*(n*q - s^2) — all BIGINT, all exact.
# ---------------------------------------------------------------------------

_BOLLINGER_ORACLE = f"""
WITH {_STOCK_CTE},
framed AS (
    SELECT symbol, cents,
           count(*) OVER w AS n,
           sum(cents) OVER w AS s,
           sum(cents * cents) OVER w AS q
    FROM stock
    WINDOW w AS (
        PARTITION BY symbol ORDER BY trade_date, order_key, line_number
        ROWS BETWEEN 19 PRECEDING AND CURRENT ROW
    )
),
flagged AS (
    SELECT symbol, s,
           CASE WHEN (cents * n - s) > 0
                 AND (cents * n - s) * (cents * n - s) > 4 * (n * q - s * s)
                THEN 1 ELSE 0 END AS up_break,
           CASE WHEN (cents * n - s) < 0
                 AND (cents * n - s) * (cents * n - s) > 4 * (n * q - s * s)
                THEN 1 ELSE 0 END AS down_break
    FROM framed
    WHERE n = 20
)
SELECT symbol,
       CAST(count(*) AS BIGINT) AS n_full_windows,
       CAST(sum(up_break) AS BIGINT) AS n_upper_breaks,
       CAST(sum(down_break) AS BIGINT) AS n_lower_breaks,
       CAST(sum(s) AS BIGINT) AS frame_sum_checksum
FROM flagged
GROUP BY symbol
"""


@register(
    "indicator_bollinger_bands",
    _BOLLINGER_ORACLE,
    doc="Bollinger 20/2 band breaks in exact BIGINT arithmetic — "
    "sqrt-free cross-multiplied band test, one symbol-keyed shuffle, "
    "frame-local window math",
)
def q_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    st = _stock(spark, sf_dir)
    w = (
        Window.partitionBy("symbol")
        .orderBy("trade_date", "order_key", "line_number")
        .rowsBetween(-19, Window.currentRow)
    )
    c = F.col("cents")
    framed = st.select(
        "symbol",
        "cents",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("cents").over(w).alias("s"),
        F.sum(c * c).over(w).alias("q"),
    ).where(F.col("n") == 20)
    dev = c * F.col("n") - F.col("s")
    var4 = 4 * (F.col("n") * F.col("q") - F.col("s") * F.col("s"))
    flagged = framed.select(
        "symbol",
        "s",
        F.when((dev > 0) & (dev * dev > var4), 1).otherwise(0).alias("up_break"),
        F.when((dev < 0) & (dev * dev > var4), 1).otherwise(0).alias("down_break"),
    )
    return flagged.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_full_windows"),
        F.sum("up_break").alias("n_upper_breaks"),
        F.sum("down_break").alias("n_lower_breaks"),
        F.sum("s").alias("frame_sum_checksum"),
    )


# ---------------------------------------------------------------------------
# Cutler's RSI (14-period, SMA smoothing — the EWMA-free variant, so
# the whole indicator is window arithmetic). RSI = 100*G/(G+L) never
# materializes as a float: overbought (RSI>70) is 10*G > 7*(G+L),
# oversold (RSI<30) is 10*G < 3*(G+L) — exact BIGINT cross-products.
# ---------------------------------------------------------------------------

_RSI_ORACLE = f"""
WITH {_STOCK_CTE},
diffed AS (
    SELECT symbol, trade_date, order_key, line_number,
           cents - lag(cents) OVER (
               PARTITION BY symbol
               ORDER BY trade_date, order_key, line_number
           ) AS d
    FROM stock
),
framed AS (
    SELECT symbol,
           count(d) OVER f AS nd,
           sum(CASE WHEN d > 0 THEN d ELSE 0 END) OVER f AS g,
           sum(CASE WHEN d < 0 THEN -d ELSE 0 END) OVER f AS l
    FROM diffed
    WINDOW f AS (
        PARTITION BY symbol ORDER BY trade_date, order_key, line_number
        ROWS BETWEEN 13 PRECEDING AND CURRENT ROW
    )
),
flagged AS (
    SELECT symbol, g, l,
           CASE WHEN 10 * g > 7 * (g + l) THEN 1 ELSE 0 END AS overbought,
           CASE WHEN 10 * g < 3 * (g + l) THEN 1 ELSE 0 END AS oversold
    FROM framed
    WHERE nd = 14 AND g + l > 0
)
SELECT symbol,
       CAST(count(*) AS BIGINT) AS n_signals,
       CAST(sum(overbought) AS BIGINT) AS n_overbought,
       CAST(sum(oversold) AS BIGINT) AS n_oversold,
       CAST(sum(g) AS BIGINT) AS gain_checksum,
       CAST(sum(l) AS BIGINT) AS loss_checksum
FROM flagged
GROUP BY symbol
"""


@register(
    "indicator_rsi_cutler",
    _RSI_ORACLE,
    doc="Cutler's 14-period RSI with overbought/oversold thresholds as "
    "exact BIGINT cross-products (10G>7(G+L) / 10G<3(G+L)) — lag diff "
    "+ one ROWS frame, single symbol-keyed shuffle",
)
def q_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    st = _stock(spark, sf_dir)
    order = ["trade_date", "order_key", "line_number"]
    wlag = Window.partitionBy("symbol").orderBy(*order)
    f = wlag.rowsBetween(-13, Window.currentRow)
    d = F.col("cents") - F.lag("cents").over(wlag)
    diffed = st.select("symbol", *order, d.alias("d"))
    framed = diffed.select(
        "symbol",
        F.count("d").over(f).alias("nd"),
        F.sum(F.when(F.col("d") > 0, F.col("d")).otherwise(0)).over(f).alias("g"),
        F.sum(F.when(F.col("d") < 0, -F.col("d")).otherwise(0)).over(f).alias("l"),
    ).where((F.col("nd") == 14) & (F.col("g") + F.col("l") > 0))
    g, l = F.col("g"), F.col("l")
    flagged = framed.select(
        "symbol",
        "g",
        "l",
        F.when(10 * g > 7 * (g + l), 1).otherwise(0).alias("overbought"),
        F.when(10 * g < 3 * (g + l), 1).otherwise(0).alias("oversold"),
    )
    return flagged.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_signals"),
        F.sum("overbought").alias("n_overbought"),
        F.sum("oversold").alias("n_oversold"),
        F.sum("g").alias("gain_checksum"),
        F.sum("l").alias("loss_checksum"),
    )


# ---------------------------------------------------------------------------
# Fixed-point EWMA (alpha = 1/4): e_1 = c_1; e_t = (3*e_{t-1} + c_t)
# div 4 — integer floor division makes the recurrence exactly
# replayable. Engine side: Catalyst aggregate() HOF over the sorted
# per-symbol series (JVM codegen, zero Python). Oracle side: DuckDB
# recursive CTE walks the identical recurrence (the ADPCM-decoder
# oracle pattern, queries_r8). Output carries the final state AND the
# running sum of every intermediate EWMA value, so a single mis-step
# anywhere in the fold breaks the hash.
# ---------------------------------------------------------------------------

_EWMA_ORACLE = f"""
WITH RECURSIVE {_STOCK_CTE},
base AS (
    SELECT symbol, cents,
           row_number() OVER (
               PARTITION BY symbol
               ORDER BY trade_date, order_key, line_number
           ) AS rn,
           count(*) OVER (PARTITION BY symbol) AS n
    FROM stock
),
walk(symbol, rn, n, acc, s) AS (
    SELECT symbol, rn, n, cents, cents FROM base WHERE rn = 1
    UNION ALL
    SELECT b.symbol, b.rn, b.n,
           (3 * w.acc + b.cents) // 4,
           w.s + (3 * w.acc + b.cents) // 4
    FROM walk w
    JOIN base b ON b.symbol = w.symbol AND b.rn = w.rn + 1
)
SELECT symbol,
       CAST(acc AS BIGINT) AS ewma_final,
       CAST(s AS BIGINT) AS ewma_sum,
       CAST(n AS BIGINT) AS n_obs
FROM walk
WHERE rn = n
"""


@register(
    "indicator_ewma_fold",
    _EWMA_ORACLE,
    doc="Fixed-point EWMA (alpha=1/4, integer floor recurrence) as a "
    "Catalyst aggregate() fold over array_sort(collect_list(struct)) — "
    "inherently-sequential smoothing kept JVM-side and bounded by "
    "series length, oracled by a DuckDB recursive-CTE replay of the "
    "identical recurrence",
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ewma_fold_frame(_stock(spark, sf_dir))


def ewma_fold_frame(st: DataFrame) -> DataFrame:
    # Sort keys lead the struct so array_sort's lexicographic order IS
    # the deterministic row order; (order_key, line_number) is unique,
    # so ties cannot occur.
    arr = F.array_sort(
        F.collect_list(
            F.struct("trade_date", "order_key", "line_number", "cents")
        )
    )
    per_symbol = st.groupBy("symbol").agg(arr.alias("series"))
    fold = F.expr(
        """
        aggregate(
            series,
            named_struct('acc', CAST(0 AS BIGINT),
                         's',   CAST(0 AS BIGINT),
                         'cnt', CAST(0 AS BIGINT)),
            (st, x) -> named_struct(
                'acc', CASE WHEN st.cnt = 0 THEN x.cents
                            ELSE (3 * st.acc + x.cents) div 4 END,
                's',   st.s + CASE WHEN st.cnt = 0 THEN x.cents
                                   ELSE (3 * st.acc + x.cents) div 4 END,
                'cnt', st.cnt + 1)
        )
        """
    )
    return per_symbol.select(
        "symbol",
        fold.alias("st"),
    ).select(
        "symbol",
        F.col("st.acc").alias("ewma_final"),
        F.col("st.s").alias("ewma_sum"),
        F.col("st.cnt").alias("n_obs"),
    )


# ---------------------------------------------------------------------------
# Maximum drawdown: running peak minus close, all integer cents. The
# classic risk metric the reference's pct_change layer feeds into.
# ---------------------------------------------------------------------------

_DRAWDOWN_ORACLE = f"""
WITH {_STOCK_CTE},
tracked AS (
    SELECT symbol, cents,
           max(cents) OVER (
               PARTITION BY symbol ORDER BY trade_date, order_key, line_number
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) - cents AS dd
    FROM stock
)
SELECT symbol,
       CAST(max(dd) AS BIGINT) AS max_drawdown_cents,
       CAST(sum(dd) AS BIGINT) AS drawdown_sum,
       CAST(max(cents) AS BIGINT) AS peak_cents,
       CAST(count(*) AS BIGINT) AS n_obs
FROM tracked
GROUP BY symbol
"""


@register(
    "indicator_max_drawdown",
    _DRAWDOWN_ORACLE,
    doc="Per-symbol maximum drawdown from the running peak, exact "
    "integer cents — one cumulative-max window + a co-partitioned "
    "group reduction, single shuffle",
)
def q_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    st = _stock(spark, sf_dir)
    w = (
        Window.partitionBy("symbol")
        .orderBy("trade_date", "order_key", "line_number")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tracked = st.select(
        "symbol",
        "cents",
        (F.max("cents").over(w) - F.col("cents")).alias("dd"),
    )
    return tracked.groupBy("symbol").agg(
        F.max("dd").alias("max_drawdown_cents"),
        F.sum("dd").alias("drawdown_sum"),
        F.max("cents").alias("peak_cents"),
        F.count(F.lit(1)).alias("n_obs"),
    )


# ---------------------------------------------------------------------------
# Wave 2 — cross-series indicators: market breadth, rolling beta vs
# the market, daily VWAP, and an SMA-crossover BACKTEST (position
# state machine). The per-DATE market series these use is bounded by
# the trading calendar (~10^4 rows at any corpus size), so its global
# date-ordered window is a constant-size tail stage, not a scale
# risk; everything corpus-sized stays symbol- or date-partitioned.
# ---------------------------------------------------------------------------

# Advance/decline line: per symbol-day direction vs previous close,
# per-date breadth counts, cumulative (adv - dec) over the calendar.
_ADVANCE_DECLINE_ORACLE = f"""
WITH {_STOCK_CTE},
daily AS (
    SELECT symbol, trade_date, sum(cents) AS sc
    FROM stock GROUP BY symbol, trade_date
),
dirs AS (
    SELECT trade_date,
           sc - lag(sc) OVER (PARTITION BY symbol ORDER BY trade_date) AS d
    FROM daily
),
breadth AS (
    SELECT trade_date,
           sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS advances,
           sum(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS declines,
           sum(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS unchanged
    FROM dirs
    WHERE d IS NOT NULL
    GROUP BY trade_date
)
SELECT CAST(trade_date AS DATE) AS trade_date,
       CAST(advances AS BIGINT) AS advances,
       CAST(declines AS BIGINT) AS declines,
       CAST(unchanged AS BIGINT) AS unchanged,
       CAST(sum(advances - declines) OVER (
           ORDER BY trade_date
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS ad_line
FROM breadth
"""


@register(
    "indicator_advance_decline",
    _ADVANCE_DECLINE_ORACLE,
    doc="market-breadth advance/decline line: symbol-partitioned lag "
    "for direction, date-keyed breadth counts, then the cumulative "
    "A/D line over the calendar-bounded date series — the only "
    "unpartitioned window runs over ~10^4 calendar rows regardless "
    "of corpus size",
)
def q_advance_decline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    st = _stock(spark, sf_dir)
    daily = st.groupBy("symbol", "trade_date").agg(F.sum("cents").alias("sc"))
    wlag = Window.partitionBy("symbol").orderBy("trade_date")
    d = (F.col("sc") - F.lag("sc").over(wlag)).alias("d")
    dirs = daily.select("trade_date", d).where(F.col("d").isNotNull())
    breadth = dirs.groupBy("trade_date").agg(
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).alias("advances"),
        F.sum(F.when(F.col("d") < 0, 1).otherwise(0)).alias("declines"),
        F.sum(F.when(F.col("d") == 0, 1).otherwise(0)).alias("unchanged"),
    )
    wcal = Window.orderBy("trade_date").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return breadth.select(
        "trade_date",
        "advances",
        "declines",
        "unchanged",
        F.sum(F.col("advances") - F.col("declines")).over(wcal).alias("ad_line"),
    )


# Rolling market beta (20-day), sign/threshold tests kept exact:
# with x = symbol daily-notional diff, y = market-average diff,
# cov_n = n*Sxy - Sx*Sy and var_n = n*Syy - Sy*Sy share the same n^2
# denominator, so beta > 1 is cov_n > var_n and beta > 0 is
# cov_n > 0 — pure BIGINT (bounds: |x| <= 2.2e7, |y| <= 9e6,
# n = 20 => every term < 1e17 << 2^63).
_MARKET_BETA_ORACLE = f"""
WITH {_STOCK_CTE},
daily AS (
    SELECT symbol, trade_date, sum(cents) AS sc
    FROM stock GROUP BY symbol, trade_date
),
mkt AS (
    SELECT trade_date, sum(sc) // count(*) AS ma
    FROM daily GROUP BY trade_date
),
mdiff AS (
    SELECT trade_date,
           ma - lag(ma) OVER (ORDER BY trade_date) AS y
    FROM mkt
),
sdiff AS (
    SELECT symbol, trade_date,
           sc - lag(sc) OVER (PARTITION BY symbol ORDER BY trade_date) AS x
    FROM daily
),
paired AS (
    SELECT s.symbol, s.trade_date, s.x, m.y
    FROM sdiff s JOIN mdiff m ON m.trade_date = s.trade_date
    WHERE s.x IS NOT NULL AND m.y IS NOT NULL
),
framed AS (
    SELECT symbol,
           count(*) OVER f AS n,
           sum(x * y) OVER f AS sxy,
           sum(x) OVER f AS sx,
           sum(y) OVER f AS sy,
           sum(y * y) OVER f AS syy
    FROM paired
    WINDOW f AS (
        PARTITION BY symbol ORDER BY trade_date
        ROWS BETWEEN 19 PRECEDING AND CURRENT ROW
    )
),
tested AS (
    SELECT symbol,
           CASE WHEN n * sxy - sx * sy > 0 THEN 1 ELSE 0 END AS pos_beta,
           CASE WHEN n * sxy - sx * sy > n * syy - sy * sy
                THEN 1 ELSE 0 END AS high_beta,
           n * sxy - sx * sy AS cov_n
    FROM framed
    WHERE n = 20 AND n * syy - sy * sy > 0
)
SELECT symbol,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(sum(pos_beta) AS BIGINT) AS n_pos_beta,
       CAST(sum(high_beta) AS BIGINT) AS n_high_beta,
       CAST(sum(cov_n) AS BIGINT) AS cov_checksum
FROM tested
GROUP BY symbol
"""


@register(
    "indicator_market_beta",
    _MARKET_BETA_ORACLE,
    doc="rolling 20-day beta vs the market-average series: two "
    "aligned diff series joined on date, covariance/variance "
    "cross-multiplied into exact BIGINT sign and beta>1 tests (same "
    "n^2 denominator cancels); market series is calendar-bounded, "
    "corpus work stays symbol-partitioned",
)
def q_market_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    st = _stock(spark, sf_dir)
    daily = st.groupBy("symbol", "trade_date").agg(F.sum("cents").alias("sc"))
    mkt = daily.groupBy("trade_date").agg(
        F.expr("sum(sc) div count(*)").alias("ma")
    )
    wcal = Window.orderBy("trade_date")
    mdiff = mkt.select(
        "trade_date", (F.col("ma") - F.lag("ma").over(wcal)).alias("y")
    ).where(F.col("y").isNotNull())
    wsym = Window.partitionBy("symbol").orderBy("trade_date")
    sdiff = daily.select(
        "symbol",
        "trade_date",
        (F.col("sc") - F.lag("sc").over(wsym)).alias("x"),
    ).where(F.col("x").isNotNull())
    paired = sdiff.join(F.broadcast(mdiff), "trade_date")
    f = wsym.rowsBetween(-19, Window.currentRow)
    x, y = F.col("x"), F.col("y")
    framed = paired.select(
        "symbol",
        F.count(F.lit(1)).over(f).alias("n"),
        F.sum(x * y).over(f).alias("sxy"),
        F.sum(x).over(f).alias("sx"),
        F.sum(y).over(f).alias("sy"),
        F.sum(y * y).over(f).alias("syy"),
    )
    n, sxy, sx, sy, syy = (F.col(c) for c in ("n", "sxy", "sx", "sy", "syy"))
    cov_n, var_n = n * sxy - sx * sy, n * syy - sy * sy
    tested = framed.where((n == 20) & (var_n > 0)).select(
        "symbol",
        F.when(cov_n > 0, 1).otherwise(0).alias("pos_beta"),
        F.when(cov_n > var_n, 1).otherwise(0).alias("high_beta"),
        cov_n.alias("cov_n"),
    )
    return tested.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum("pos_beta").alias("n_pos_beta"),
        F.sum("high_beta").alias("n_high_beta"),
        F.sum("cov_n").alias("cov_checksum"),
    )


# Daily VWAP kept as exact integer fractions, reduced per symbol.
_VWAP_ORACLE = """
WITH px AS (
    SELECT l_partkey AS symbol,
           CAST(l_shipdate AS DATE) AS trade_date,
           CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
           CAST(floor(l_quantity) AS BIGINT) AS qty
    FROM lineitem
),
vwap AS (
    SELECT symbol, trade_date,
           sum(cents * qty) AS num, sum(qty) AS den
    FROM px GROUP BY symbol, trade_date
)
SELECT symbol,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(num) AS BIGINT) AS num_total,
       CAST(sum(den) AS BIGINT) AS den_total,
       CAST(max(num // den) AS BIGINT) AS max_daily_vwap_cents
FROM vwap
WHERE den > 0
GROUP BY symbol
"""


@register(
    "indicator_vwap_daily",
    _VWAP_ORACLE,
    doc="daily VWAP as exact integer fractions (num = sum cents*qty, "
    "den = sum qty; floor-div only at the final projection) reduced "
    "per symbol — one partial-agg shuffle",
)
def q_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    px = li.select(
        F.col("l_partkey").alias("symbol"),
        F.to_date("l_shipdate").alias("trade_date"),
        F.floor(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        F.floor(F.col("l_quantity")).cast("bigint").alias("qty"),
    )
    vwap = px.groupBy("symbol", "trade_date").agg(
        F.sum(F.col("cents") * F.col("qty")).alias("num"),
        F.sum("qty").alias("den"),
    )
    return (
        vwap.where(F.col("den") > 0)
        .groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("num").alias("num_total"),
            F.sum("den").alias("den_total"),
            F.max(F.expr("num div den")).alias("max_daily_vwap_cents"),
        )
    )


# ---------------------------------------------------------------------------
# SMA-crossover backtest: fast(5) over slow(20) moving-average
# signal, long/flat position state machine walked per symbol, P&L in
# exact integer cents. The signal is a pure window comparison kept
# exact by cross-multiplying the two frame means (sf5*n20 > ss20*n5);
# the inherently-sequential position walk is the Catalyst aggregate()
# fold (same boundedness as the EWMA fold), oracled by a DuckDB
# recursive-CTE replay of the identical state machine.
# ---------------------------------------------------------------------------

_BACKTEST_ORACLE = f"""
WITH RECURSIVE {_STOCK_CTE},
sig AS (
    SELECT symbol, cents,
           CASE WHEN count(*) OVER ws = 20
                 AND sum(cents) OVER wf * 20 > sum(cents) OVER ws * count(*) OVER wf
                THEN 1 ELSE 0 END AS long_sig,
           row_number() OVER (
               PARTITION BY symbol
               ORDER BY trade_date, order_key, line_number
           ) AS rn,
           count(*) OVER (PARTITION BY symbol) AS n
    FROM stock
    WINDOW wf AS (
        PARTITION BY symbol ORDER BY trade_date, order_key, line_number
        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
    ), ws AS (
        PARTITION BY symbol ORDER BY trade_date, order_key, line_number
        ROWS BETWEEN 19 PRECEDING AND CURRENT ROW
    )
),
walk(symbol, rn, n, pos, entry, pnl, trades, last_c) AS (
    SELECT symbol, rn, n, long_sig,
           CASE WHEN long_sig = 1 THEN cents ELSE 0 END,
           0, long_sig, cents
    FROM sig WHERE rn = 1
    UNION ALL
    SELECT s.symbol, s.rn, s.n,
           s.long_sig,
           CASE WHEN w.pos = 0 AND s.long_sig = 1 THEN s.cents
                WHEN w.pos = 1 AND s.long_sig = 1 THEN w.entry
                ELSE 0 END,
           w.pnl + CASE WHEN w.pos = 1 AND s.long_sig = 0
                        THEN s.cents - w.entry ELSE 0 END,
           w.trades + CASE WHEN w.pos = 0 AND s.long_sig = 1
                           THEN 1 ELSE 0 END,
           s.cents
    FROM walk w
    JOIN sig s ON s.symbol = w.symbol AND s.rn = w.rn + 1
)
SELECT symbol,
       CAST(pnl AS BIGINT) AS realized_pnl_cents,
       CAST(trades AS BIGINT) AS n_trades,
       CAST(pos AS BIGINT) AS final_pos,
       CAST(CASE WHEN pos = 1 THEN last_c - entry ELSE 0 END AS BIGINT)
           AS unrealized_cents,
       CAST(n AS BIGINT) AS n_obs
FROM walk
WHERE rn = n
"""


@register(
    "indicator_sma_backtest",
    _BACKTEST_ORACLE,
    doc="SMA 5/20 crossover backtest: exact cross-multiplied signal "
    "(sf5*n20 > ss20*nf), long/flat position state machine with "
    "integer-cents realized/unrealized P&L walked per symbol by a "
    "Catalyst aggregate() fold over the sorted series, oracled by a "
    "recursive-CTE replay of the identical machine",
)
def q_sma_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return backtest_frame(_stock(spark, sf_dir))


def backtest_frame(st: DataFrame) -> DataFrame:
    from pyspark.sql import Window

    order = ["trade_date", "order_key", "line_number"]
    w = Window.partitionBy("symbol").orderBy(*order)
    wf, ws = w.rowsBetween(-4, 0), w.rowsBetween(-19, 0)
    long_sig = F.when(
        (F.count(F.lit(1)).over(ws) == 20)
        & (
            F.sum("cents").over(wf) * 20
            > F.sum("cents").over(ws) * F.count(F.lit(1)).over(wf)
        ),
        1,
    ).otherwise(0)
    sig = st.select("symbol", *order, "cents", long_sig.alias("long_sig"))
    arr = F.array_sort(
        F.collect_list(
            F.struct("trade_date", "order_key", "line_number", "cents", "long_sig")
        )
    )
    per_symbol = sig.groupBy("symbol").agg(arr.alias("series"))
    fold = F.expr(
        """
        aggregate(
            series,
            named_struct('pos', CAST(0 AS BIGINT), 'entry', CAST(0 AS BIGINT),
                         'pnl', CAST(0 AS BIGINT), 'trades', CAST(0 AS BIGINT),
                         'last_c', CAST(0 AS BIGINT), 'cnt', CAST(0 AS BIGINT)),
            (st, x) -> named_struct(
                'pos',   CAST(x.long_sig AS BIGINT),
                'entry', CASE WHEN st.pos = 0 AND x.long_sig = 1 THEN x.cents
                              WHEN st.pos = 1 AND x.long_sig = 1 THEN st.entry
                              ELSE CAST(0 AS BIGINT) END,
                'pnl',   st.pnl + CASE WHEN st.pos = 1 AND x.long_sig = 0
                                       THEN x.cents - st.entry
                                       ELSE CAST(0 AS BIGINT) END,
                'trades', st.trades + CASE WHEN st.pos = 0 AND x.long_sig = 1
                                           THEN CAST(1 AS BIGINT)
                                           ELSE CAST(0 AS BIGINT) END,
                'last_c', x.cents,
                'cnt',    st.cnt + 1)
        )
        """
    )
    folded = per_symbol.select("symbol", fold.alias("st"))
    return folded.select(
        "symbol",
        F.col("st.pnl").alias("realized_pnl_cents"),
        F.col("st.trades").alias("n_trades"),
        F.col("st.pos").alias("final_pos"),
        F.when(F.col("st.pos") == 1, F.col("st.last_c") - F.col("st.entry"))
        .otherwise(0)
        .alias("unrealized_cents"),
        F.col("st.cnt").alias("n_obs"),
    )


# ---------------------------------------------------------------------------
# Wave 3 — stochastic oscillator, on-balance volume, and historical
# portfolio VaR (the risk capstone: exact order statistic over the
# calendar-bounded daily P&L series via the distributed global-rank
# pattern, never a single-task global window).
# ---------------------------------------------------------------------------

# Stochastic %K (14): rolling low/high frames; %K>80 and %K<20 kept
# exact by cross-multiplication (5*(c-low) vs 4*(high-low) / (high-low)).
_STOCHASTIC_ORACLE = f"""
WITH {_STOCK_CTE},
framed AS (
    SELECT symbol, cents,
           count(*) OVER f AS n,
           min(cents) OVER f AS lo,
           max(cents) OVER f AS hi
    FROM stock
    WINDOW f AS (
        PARTITION BY symbol ORDER BY trade_date, order_key, line_number
        ROWS BETWEEN 13 PRECEDING AND CURRENT ROW
    )
),
flagged AS (
    SELECT symbol,
           cents - lo AS span_up,
           hi - lo AS range_k,
           CASE WHEN 5 * (cents - lo) > 4 * (hi - lo) THEN 1 ELSE 0 END
               AS overbought,
           CASE WHEN 5 * (cents - lo) < (hi - lo) THEN 1 ELSE 0 END
               AS oversold
    FROM framed
    WHERE n = 14 AND hi > lo
)
SELECT symbol,
       CAST(count(*) AS BIGINT) AS n_signals,
       CAST(sum(overbought) AS BIGINT) AS n_overbought,
       CAST(sum(oversold) AS BIGINT) AS n_oversold,
       CAST(sum(span_up) AS BIGINT) AS span_checksum,
       CAST(sum(range_k) AS BIGINT) AS range_checksum
FROM flagged
GROUP BY symbol
"""


@register(
    "indicator_stochastic_k",
    _STOCHASTIC_ORACLE,
    doc="stochastic %K(14) with overbought/oversold as exact BIGINT "
    "cross-products over rolling min/max frames — one symbol-keyed "
    "shuffle",
)
def q_stochastic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    st = _stock(spark, sf_dir)
    f = (
        Window.partitionBy("symbol")
        .orderBy("trade_date", "order_key", "line_number")
        .rowsBetween(-13, Window.currentRow)
    )
    framed = st.select(
        "symbol",
        "cents",
        F.count(F.lit(1)).over(f).alias("n"),
        F.min("cents").over(f).alias("lo"),
        F.max("cents").over(f).alias("hi"),
    ).where((F.col("n") == 14) & (F.col("hi") > F.col("lo")))
    up = F.col("cents") - F.col("lo")
    rng = F.col("hi") - F.col("lo")
    flagged = framed.select(
        "symbol",
        up.alias("span_up"),
        rng.alias("range_k"),
        F.when(5 * up > 4 * rng, 1).otherwise(0).alias("overbought"),
        F.when(5 * up < rng, 1).otherwise(0).alias("oversold"),
    )
    return flagged.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_signals"),
        F.sum("overbought").alias("n_overbought"),
        F.sum("oversold").alias("n_oversold"),
        F.sum("span_up").alias("span_checksum"),
        F.sum("range_k").alias("range_checksum"),
    )


# On-balance volume: cumulative sign(price diff) * quantity, exact.
_OBV_ORACLE = """
WITH px AS (
    SELECT l_partkey AS symbol,
           CAST(l_shipdate AS DATE) AS trade_date,
           l_orderkey AS order_key,
           l_linenumber AS line_number,
           CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
           CAST(floor(l_quantity) AS BIGINT) AS qty
    FROM lineitem
),
diffed AS (
    SELECT symbol, trade_date, order_key, line_number, qty,
           cents - lag(cents) OVER w AS d
    FROM px
    WINDOW w AS (
        PARTITION BY symbol ORDER BY trade_date, order_key, line_number
    )
),
obv AS (
    SELECT symbol,
           sum(CASE WHEN d > 0 THEN qty WHEN d < 0 THEN -qty ELSE 0 END)
               OVER (
                   PARTITION BY symbol
                   ORDER BY trade_date, order_key, line_number
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS v
    FROM diffed
)
SELECT symbol,
       CAST(count(*) AS BIGINT) AS n_obs,
       CAST(max(v) AS BIGINT) AS obv_max,
       CAST(min(v) AS BIGINT) AS obv_min,
       CAST(sum(v) AS BIGINT) AS obv_checksum
FROM obv
GROUP BY symbol
"""


@register(
    "indicator_obv",
    _OBV_ORACLE,
    doc="on-balance volume: cumulative sign(diff)*qty per symbol, all "
    "BIGINT — lag + running sum in one symbol-keyed sort",
)
def q_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    px = li.select(
        F.col("l_partkey").alias("symbol"),
        F.to_date("l_shipdate").alias("trade_date"),
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_number"),
        F.floor(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        F.floor(F.col("l_quantity")).cast("bigint").alias("qty"),
    )
    order = ["trade_date", "order_key", "line_number"]
    w = Window.partitionBy("symbol").orderBy(*order)
    diffed = px.select(
        "symbol", *order, "qty", (F.col("cents") - F.lag("cents").over(w)).alias("d")
    )
    delta = (
        F.when(F.col("d") > 0, F.col("qty"))
        .when(F.col("d") < 0, -F.col("qty"))
        .otherwise(0)
    )
    obv = diffed.select(
        "symbol",
        F.sum(delta)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("v"),
    )
    return obv.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.max("v").alias("obv_max"),
        F.min("v").alias("obv_min"),
        F.sum("v").alias("obv_checksum"),
    )


# Shared daily-P&L pipeline for the portfolio-risk family
# (portfolio VaR / expected shortfall / risk report): daily notional
# per symbol, lagged diff, NULL first days dropped. ONE definition on
# each side — a change to the P&L rule (lag tiebreak, null handling)
# lands in every risk query and oracle at once.
_SDIFF_CTE = """
daily AS (
    SELECT symbol, trade_date, sum(cents) AS sc
    FROM stock GROUP BY symbol, trade_date
),
sdiff AS (
    SELECT symbol, trade_date,
           sc - lag(sc) OVER (PARTITION BY symbol ORDER BY trade_date) AS x
    FROM daily
)
"""


def sdiff_from_daily(daily: DataFrame) -> DataFrame:
    """The lag-diff half of _SDIFF_CTE, over a caller-supplied
    (symbol, trade_date, sc) rollup — split out so risk_report_frame
    can share ONE daily aggregation between its P&L and HHI branches
    (the 100x probe showed two identical 60M-group HashAggregates as
    the top spillers when each branch built its own)."""
    from pyspark.sql import Window

    w = Window.partitionBy("symbol").orderBy("trade_date")
    return daily.select(
        "symbol", "trade_date", (F.col("sc") - F.lag("sc").over(w)).alias("x")
    ).where(F.col("x").isNotNull())


def sdiff_frame(st: DataFrame) -> DataFrame:
    """DataFrame twin of _SDIFF_CTE's `sdiff` (x IS NOT NULL applied)."""
    daily = st.groupBy("symbol", "trade_date").agg(F.sum("cents").alias("sc"))
    return sdiff_from_daily(daily)


# Historical-simulation portfolio VaR: the portfolio's daily P&L is
# the cross-symbol sum of daily-notional diffs; VaR95 is the EXACT
# k-th smallest daily P&L with k = n div 20 + 1. The daily series is
# calendar-bounded, but the order statistic still uses the
# distributed global-rank pattern (range-sort + offsets) rather than
# a single-task global window — same discipline as
# feature_equidepth_histogram.
_PORTFOLIO_VAR_ORACLE = f"""
WITH {_STOCK_CTE},
{_SDIFF_CTE},
pnl AS (
    SELECT trade_date, sum(x) AS p
    FROM sdiff WHERE x IS NOT NULL
    GROUP BY trade_date
),
ranked AS (
    SELECT trade_date, p,
           row_number() OVER (ORDER BY p, trade_date) AS rn,
           count(*) OVER () AS n
    FROM pnl
)
SELECT CAST(trade_date AS DATE) AS var_day,
       CAST(p AS BIGINT) AS var95_cents,
       CAST(n AS BIGINT) AS n_days,
       CAST(rn AS BIGINT) AS k
FROM ranked
WHERE rn = n // 20 + 1
"""


@register(
    "indicator_portfolio_var",
    _PORTFOLIO_VAR_ORACLE,
    doc="historical-simulation portfolio VaR95: cross-symbol daily "
    "P&L, exact k-th smallest (k = n div 20 + 1) via the distributed "
    "global-rank pattern over the calendar-bounded series — no "
    "single-task global window",
)
def q_portfolio_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import track_persist
    from ..operators.window_metrics import with_global_rank

    st = _stock(spark, sf_dir)
    # pnl feeds both the rank and the broadcast total — persist it
    # (tracked, so release_caches frees it) instead of re-deriving the
    # whole lineitem scan + two aggs for the one-row count.
    pnl = track_persist(
        sdiff_frame(st).groupBy("trade_date").agg(F.sum("x").alias("p"))
    )
    ranked = with_global_rank(pnl, ["p", "trade_date"], rank_col="rn")
    total = pnl.agg(F.count(F.lit(1)).alias("n"))
    return (
        ranked.join(F.broadcast(total))
        .where(F.col("rn") == F.expr("n div 20 + 1"))
        .select(
            F.col("trade_date").alias("var_day"),
            F.col("p").alias("var95_cents"),
            F.col("n").alias("n_days"),
            F.col("rn").alias("k"),
        )
    )


# ---------------------------------------------------------------------------
# Wave 4 — change-point detection, drawdown duration, candlestick
# patterns, and the Wald-Wolfowitz runs test. The CUSUM query is the
# centerpiece: the recurrence S_t = max(0, S_{t-1} + y_t) is usually
# written as a sequential fold, but it has a closed declarative form
#   S_t = C_t - least(0, min_{j<=t} C_j)      (C = running sum of y)
# so the whole detector runs as two stacked window passes over ONE
# symbol-keyed sort — no fold, no UDF, pure Catalyst.
# ---------------------------------------------------------------------------

# CUSUM upward-shift detector on price changes: y = d - k (drift
# k = 100 cents), alarm when S > h (h = 1,000,000 cents). All BIGINT.
_CUSUM_ORACLE = f"""
WITH {_STOCK_CTE},
diffed AS (
    SELECT symbol, trade_date, order_key, line_number,
           cents - lag(cents) OVER (
               PARTITION BY symbol
               ORDER BY trade_date, order_key, line_number
           ) AS d
    FROM stock
),
cum AS (
    SELECT symbol, trade_date, order_key, line_number,
           sum(d - 100) OVER (
               PARTITION BY symbol
               ORDER BY trade_date, order_key, line_number
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS c
    FROM diffed WHERE d IS NOT NULL
),
cusum AS (
    SELECT symbol,
           c - least(0, min(c) OVER (
               PARTITION BY symbol
               ORDER BY trade_date, order_key, line_number
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           )) AS s
    FROM cum
)
SELECT symbol,
       CAST(count(*) AS BIGINT) AS n_obs,
       CAST(sum(CASE WHEN s > 1000000 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_alarms,
       CAST(max(s) AS BIGINT) AS s_max,
       CAST(sum(s) AS BIGINT) AS s_checksum
FROM cusum
GROUP BY symbol
"""


@register(
    "indicator_cusum_changepoint",
    _CUSUM_ORACLE,
    doc="one-sided CUSUM change-point detector via the closed form "
    "S_t = C_t - least(0, running_min(C)) — the max(0, S+y) fold made "
    "declarative: two stacked windows over one symbol-keyed sort, no "
    "sequential fold, all BIGINT",
)
def q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    st = _stock(spark, sf_dir)
    order = ["trade_date", "order_key", "line_number"]
    w = Window.partitionBy("symbol").orderBy(*order)
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    diffed = st.select(
        "symbol", *order, (F.col("cents") - F.lag("cents").over(w)).alias("d")
    ).where(F.col("d").isNotNull())
    cum = diffed.select(
        "symbol", *order, F.sum(F.col("d") - 100).over(wrun).alias("c")
    )
    cusum = cum.select(
        "symbol",
        (F.col("c") - F.least(F.lit(0).cast("bigint"), F.min("c").over(wrun))).alias(
            "s"
        ),
    )
    return cusum.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(F.when(F.col("s") > 1000000, 1).otherwise(0)).alias("n_alarms"),
        F.max("s").alias("s_max"),
        F.sum("s").alias("s_checksum"),
    )


# Drawdown duration: underwater spells (cents < running max) as
# islands keyed by the running count of new-peak rows.
_DRAWDOWN_DUR_ORACLE = f"""
WITH {_STOCK_CTE},
peaked AS (
    SELECT symbol, trade_date, order_key, line_number, cents,
           max(cents) OVER w AS runmax
    FROM stock
    WINDOW w AS (
        PARTITION BY symbol ORDER BY trade_date, order_key, line_number
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    )
),
marked AS (
    SELECT symbol, cents, runmax,
           sum(CASE WHEN cents = runmax THEN 1 ELSE 0 END) OVER w AS spell
    FROM peaked
    WINDOW w AS (
        PARTITION BY symbol ORDER BY trade_date, order_key, line_number
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    )
),
spells AS (
    SELECT symbol, spell, count(*) AS len
    FROM marked WHERE cents < runmax
    GROUP BY symbol, spell
)
SELECT symbol,
       CAST(count(*) AS BIGINT) AS n_spells,
       CAST(max(len) AS BIGINT) AS max_spell_len,
       CAST(sum(len) AS BIGINT) AS underwater_rows,
       CAST(sum(len * len) AS BIGINT) AS spell_sq_checksum
FROM spells
GROUP BY symbol
"""


@register(
    "indicator_drawdown_duration",
    _DRAWDOWN_DUR_ORACLE,
    doc="underwater-spell durations: islands of cents < running max, "
    "spell id = running count of peak rows — gaps-and-islands over a "
    "running max, one symbol-keyed sort then symbol-local group",
)
def q_drawdown_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    st = _stock(spark, sf_dir)
    order = ["trade_date", "order_key", "line_number"]
    wrun = (
        Window.partitionBy("symbol")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    peaked = st.select(
        "symbol", *order, "cents", F.max("cents").over(wrun).alias("runmax")
    )
    marked = peaked.select(
        "symbol",
        "cents",
        "runmax",
        F.sum(F.when(F.col("cents") == F.col("runmax"), 1).otherwise(0))
        .over(wrun)
        .alias("spell"),
    )
    spells = (
        marked.where(F.col("cents") < F.col("runmax"))
        .groupBy("symbol", "spell")
        .agg(F.count(F.lit(1)).alias("len"))
    )
    return spells.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_spells"),
        F.max("len").alias("max_spell_len"),
        F.sum("len").alias("underwater_rows"),
        F.sum(F.col("len") * F.col("len")).alias("spell_sq_checksum"),
    )


# Candlestick patterns over daily OHLC bars: open/close picked by
# min_by/max_by on a UNIQUE intra-day sort key (order_key*10 +
# line_number; l_linenumber <= 7), then engulfing/doji detection vs
# the lagged bar. Builds the pattern layer on the bar-building shape
# of ohlc_hourly_resample (queries_analytics.py).
_CANDLE_ORACLE = f"""
WITH {_STOCK_CTE},
bars AS (
    SELECT symbol, trade_date,
           arg_min(cents, order_key * 10 + line_number) AS open_c,
           arg_max(cents, order_key * 10 + line_number) AS close_c,
           max(cents) AS high_c,
           min(cents) AS low_c
    FROM stock
    GROUP BY symbol, trade_date
),
lagged AS (
    SELECT symbol, open_c, close_c, high_c, low_c,
           lag(open_c) OVER w AS po,
           lag(close_c) OVER w AS pc
    FROM bars
    WINDOW w AS (PARTITION BY symbol ORDER BY trade_date)
)
SELECT symbol,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(CASE WHEN pc < po AND close_c > open_c
                      AND open_c <= pc AND close_c >= po
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_bull_engulf,
       CAST(sum(CASE WHEN pc > po AND close_c < open_c
                      AND open_c >= pc AND close_c <= po
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_bear_engulf,
       CAST(sum(CASE WHEN open_c = close_c THEN 1 ELSE 0 END) AS BIGINT)
           AS n_doji,
       CAST(sum(open_c + close_c + high_c + low_c) AS BIGINT)
           AS ohlc_checksum
FROM lagged
GROUP BY symbol
"""


@register(
    "indicator_candle_patterns",
    _CANDLE_ORACLE,
    doc="bullish/bearish engulfing + doji detection over daily OHLC "
    "bars (min_by/max_by on a unique intra-day key == DuckDB "
    "arg_min/arg_max) — bar-build groupBy then one symbol-keyed lag, "
    "exact BIGINT comparisons",
)
def q_candle_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    st = _stock(spark, sf_dir)
    sortkey = F.col("order_key") * 10 + F.col("line_number")
    bars = st.groupBy("symbol", "trade_date").agg(
        F.min_by("cents", sortkey).alias("open_c"),
        F.max_by("cents", sortkey).alias("close_c"),
        F.max("cents").alias("high_c"),
        F.min("cents").alias("low_c"),
    )
    w = Window.partitionBy("symbol").orderBy("trade_date")
    lagged = bars.select(
        "symbol",
        "open_c",
        "close_c",
        "high_c",
        "low_c",
        F.lag("open_c").over(w).alias("po"),
        F.lag("close_c").over(w).alias("pc"),
    )
    bull = (
        (F.col("pc") < F.col("po"))
        & (F.col("close_c") > F.col("open_c"))
        & (F.col("open_c") <= F.col("pc"))
        & (F.col("close_c") >= F.col("po"))
    )
    bear = (
        (F.col("pc") > F.col("po"))
        & (F.col("close_c") < F.col("open_c"))
        & (F.col("open_c") >= F.col("pc"))
        & (F.col("close_c") <= F.col("po"))
    )
    return lagged.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.when(bull, 1).otherwise(0)).alias("n_bull_engulf"),
        F.sum(F.when(bear, 1).otherwise(0)).alias("n_bear_engulf"),
        F.sum(
            F.when(F.col("open_c") == F.col("close_c"), 1).otherwise(0)
        ).alias("n_doji"),
        F.sum(
            F.col("open_c") + F.col("close_c") + F.col("high_c") + F.col("low_c")
        ).alias("ohlc_checksum"),
    )


# Wald-Wolfowitz runs test on diff signs: zeros dropped, runs counted
# by sign changes, the "fewer runs than expected" flag kept exact by
# cross-multiplication: runs*(p+n) < 2*p*n + (p+n).
_RUNS_TEST_ORACLE = f"""
WITH {_STOCK_CTE},
diffed AS (
    SELECT symbol, trade_date, order_key, line_number,
           cents - lag(cents) OVER (
               PARTITION BY symbol
               ORDER BY trade_date, order_key, line_number
           ) AS d
    FROM stock
),
signed AS (
    SELECT symbol, trade_date, order_key, line_number,
           CASE WHEN d > 0 THEN 1 ELSE -1 END AS s
    FROM diffed WHERE d IS NOT NULL AND d <> 0
),
runs AS (
    SELECT symbol, s,
           CASE WHEN lag(s) OVER (
                    PARTITION BY symbol
                    ORDER BY trade_date, order_key, line_number
                ) IS DISTINCT FROM s THEN 1 ELSE 0 END AS new_run
    FROM signed
),
stats AS (
    SELECT symbol,
           sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS p,
           sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS n,
           sum(new_run) AS n_runs
    FROM runs
    GROUP BY symbol
)
SELECT symbol,
       CAST(p AS BIGINT) AS n_pos,
       CAST(n AS BIGINT) AS n_neg,
       CAST(n_runs AS BIGINT) AS n_runs,
       CAST(CASE WHEN n_runs * (p + n) < 2 * p * n + (p + n)
                 THEN 1 ELSE 0 END AS BIGINT) AS fewer_than_expected
FROM stats
"""


@register(
    "indicator_runs_test",
    _RUNS_TEST_ORACLE,
    doc="Wald-Wolfowitz runs test on price-change signs: run count by "
    "IS DISTINCT FROM lag, expected-runs comparison cross-multiplied "
    "into exact integers — one symbol-keyed sort",
)
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    st = _stock(spark, sf_dir)
    order = ["trade_date", "order_key", "line_number"]
    w = Window.partitionBy("symbol").orderBy(*order)
    diffed = st.select(
        "symbol", *order, (F.col("cents") - F.lag("cents").over(w)).alias("d")
    ).where(F.col("d").isNotNull() & (F.col("d") != 0))
    signed = diffed.select(
        "symbol", *order, F.when(F.col("d") > 0, 1).otherwise(-1).alias("s")
    )
    runs = signed.select(
        "symbol",
        "s",
        F.when(~F.lag("s").over(w).eqNullSafe(F.col("s")), 1)
        .otherwise(0)
        .alias("new_run"),
    )
    stats = runs.groupBy("symbol").agg(
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0)).alias("p"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0)).alias("n"),
        F.sum("new_run").alias("n_runs"),
    )
    pn = F.col("p") + F.col("n")
    return stats.select(
        "symbol",
        F.col("p").alias("n_pos"),
        F.col("n").alias("n_neg"),
        "n_runs",
        F.when(F.col("n_runs") * pn < 2 * F.col("p") * F.col("n") + pn, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("fewer_than_expected"),
    )


# ---------------------------------------------------------------------------
# Wave 5 — time-weighted average price over IRREGULAR intervals, and
# the exact OLS trend-slope sign.
# ---------------------------------------------------------------------------

# TWAP: each observation holds until the next one (lead), weight =
# interval length in integer MILLISECONDS (unix_millis == epoch_ms).
# num = sum(cents * dur_ms) telescopes to <= max_cents * series span
# (not rows x max-duration), so BIGINT holds it at any corpus size:
# cents <= 1e4 here, a decade span ~ 3e11 ms -> num <= 3e15 << 2^63.
_TWAP_ORACLE = """
WITH px AS (
    SELECT event_type,
           epoch_ms(ts) AS ms,
           CAST(floor(value * 100) AS BIGINT) AS cents,
           event_id
    FROM events
),
held AS (
    SELECT event_type, cents,
           lead(ms) OVER (
               PARTITION BY event_type ORDER BY ms, event_id
           ) - ms AS dur_ms
    FROM px
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_intervals,
       CAST(sum(cents * dur_ms) AS BIGINT) AS twap_num,
       CAST(sum(dur_ms) AS BIGINT) AS twap_den,
       CAST(sum(cents * dur_ms) // sum(dur_ms) AS BIGINT) AS twap_floor
FROM held
WHERE dur_ms IS NOT NULL
GROUP BY event_type
"""


@register(
    "indicator_twap_irregular",
    _TWAP_ORACLE,
    doc="time-weighted average price over irregular intervals: "
    "hold-until-next weighting in integer milliseconds "
    "(unix_millis == epoch_ms), exact BIGINT num/den fraction + "
    "floor quotient — one event_type-keyed sort",
)
def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    px = ev.select(
        "event_type",
        F.unix_millis("ts").alias("ms"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        "event_id",
    )
    w = Window.partitionBy("event_type").orderBy("ms", "event_id")
    held = px.select(
        "event_type",
        "cents",
        (F.lead("ms").over(w) - F.col("ms")).alias("dur_ms"),
    ).where(F.col("dur_ms").isNotNull())
    return held.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum(F.col("cents") * F.col("dur_ms")).alias("twap_num"),
        F.sum("dur_ms").alias("twap_den"),
        F.expr("sum(cents * dur_ms) div sum(dur_ms)").alias("twap_floor"),
    )


# OLS trend-slope SIGN without any division: with x = 1..n the slope
# numerator times 2 is sum(c_i * (2*i - n - 1)) — doubled centering
# keeps everything BIGINT (|2i-n-1| <= n, so the sum is bounded by
# max_cents * n^2: 1.1e7 * (1e4)^2 = 1.1e15 at a 10^4-row series).
_TREND_SLOPE_ORACLE = f"""
WITH {_STOCK_CTE},
indexed AS (
    SELECT symbol, cents,
           row_number() OVER w AS i,
           count(*) OVER (PARTITION BY symbol) AS n
    FROM stock
    WINDOW w AS (
        PARTITION BY symbol ORDER BY trade_date, order_key, line_number
    )
)
SELECT symbol,
       CAST(max(n) AS BIGINT) AS n_obs,
       CAST(sum(cents * (2 * i - n - 1)) AS BIGINT) AS slope_num2,
       CAST(CASE WHEN sum(cents * (2 * i - n - 1)) > 0 THEN 1 ELSE 0 END
            AS BIGINT) AS trending_up
FROM indexed
GROUP BY symbol
"""


@register(
    "indicator_trend_slope",
    _TREND_SLOPE_ORACLE,
    doc="OLS trend-slope sign via doubled centering: "
    "sum(c_i*(2i-n-1)) is 2x the regression numerator, division-free "
    "and exact BIGINT — row_number + per-partition count share the "
    "symbol sort",
)
def q_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    st = _stock(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy(
        "trade_date", "order_key", "line_number"
    )
    indexed = st.select(
        "symbol",
        "cents",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy("symbol")).alias("n"),
    )
    num2 = F.sum(F.col("cents") * (2 * F.col("i") - F.col("n") - 1))
    return indexed.groupBy("symbol").agg(
        F.max("n").alias("n_obs"),
        num2.alias("slope_num2"),
        F.when(num2 > 0, 1).otherwise(0).cast("bigint").alias("trending_up"),
    )


# ---------------------------------------------------------------------------
# Wave 6 — expected shortfall (the tail-mean companion of VaR95) and
# daily portfolio concentration (Herfindahl index in exact ppm^2).
# ---------------------------------------------------------------------------

# Expected shortfall: ES95 = mean of the k smallest daily P&Ls
# (k = n div 20 + 1), kept exact as a (sum, k) fraction. Same daily
# P&L pipeline as indicator_portfolio_var; the bottom-k selection
# reuses the distributed global-rank pattern.
_ES_ORACLE = f"""
WITH {_STOCK_CTE},
{_SDIFF_CTE},
pnl AS (
    SELECT trade_date, sum(x) AS p
    FROM sdiff WHERE x IS NOT NULL
    GROUP BY trade_date
),
ranked AS (
    SELECT p,
           row_number() OVER (ORDER BY p, trade_date) AS rn,
           count(*) OVER () AS n
    FROM pnl
)
SELECT CAST(max(n) AS BIGINT) AS n_days,
       CAST(max(n) // 20 + 1 AS BIGINT) AS k,
       CAST(sum(p) AS BIGINT) AS es_num_cents,
       CAST(min(p) AS BIGINT) AS worst_day_cents
FROM ranked
WHERE rn <= n // 20 + 1
"""


@register(
    "indicator_expected_shortfall",
    _ES_ORACLE,
    doc="expected shortfall ES95 as the exact (sum, k) fraction over "
    "the k smallest daily portfolio P&Ls (k = n div 20 + 1) — "
    "bottom-k via the distributed global-rank pattern, no "
    "single-task window",
)
def q_expected_shortfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import track_persist
    from ..operators.window_metrics import with_global_rank

    st = _stock(spark, sf_dir)
    pnl = track_persist(
        sdiff_frame(st).groupBy("trade_date").agg(F.sum("x").alias("p"))
    )
    ranked = with_global_rank(pnl, ["p", "trade_date"], rank_col="rn")
    total = pnl.agg(F.count(F.lit(1)).alias("n"))
    tail = ranked.join(F.broadcast(total)).where(
        F.col("rn") <= F.expr("n div 20 + 1")
    )
    return tail.agg(
        F.max("n").alias("n_days"),
        F.expr("max(n) div 20 + 1").alias("k"),
        F.sum("p").alias("es_num_cents"),
        F.min("p").alias("worst_day_cents"),
    )


# Herfindahl concentration per trading day: notional share of each
# symbol in integer PARTS-PER-MILLION (sc*1e6 div total — floor
# division in both engines), HHI = sum(share_ppm^2) <= 1e12, exact.
_HHI_ORACLE = f"""
WITH {_STOCK_CTE},
daily AS (
    SELECT symbol, trade_date, sum(cents) AS sc
    FROM stock GROUP BY symbol, trade_date
),
tot AS (
    SELECT trade_date, sum(sc) AS total, count(*) AS n_symbols
    FROM daily GROUP BY trade_date
)
SELECT d.trade_date,
       CAST(max(t.n_symbols) AS BIGINT) AS n_symbols,
       CAST(sum((d.sc * 1000000 // t.total)
                * (d.sc * 1000000 // t.total)) AS BIGINT) AS hhi_ppm2
FROM daily d JOIN tot t ON d.trade_date = t.trade_date
GROUP BY d.trade_date
"""


@register(
    "indicator_portfolio_hhi",
    _HHI_ORACLE,
    doc="daily portfolio concentration: Herfindahl index over "
    "integer-ppm notional shares (floor-division — // in DuckDB, "
    "div in Spark), exact BIGINT; per-day totals broadcast back "
    "onto the symbol rows",
)
def q_portfolio_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = _stock(spark, sf_dir)
    daily = st.groupBy("symbol", "trade_date").agg(F.sum("cents").alias("sc"))
    tot = daily.groupBy("trade_date").agg(
        F.sum("sc").alias("total"), F.count(F.lit(1)).alias("n_symbols")
    )
    joined = daily.join(F.broadcast(tot), "trade_date")
    share = F.expr("sc * 1000000 div total")
    return joined.groupBy("trade_date").agg(
        F.max("n_symbols").alias("n_symbols"),
        F.sum(share * share).alias("hhi_ppm2"),
    )


# ---------------------------------------------------------------------------
# Wave 7 — the risk-report capstone: one daily portfolio timeline
# composing the family's metrics (P&L, cumulative P&L, drawdown of
# the cumulative curve, concentration, breadth, VaR95 breach flag)
# in a single plan. Integration exhibit in the curation-capstone
# style: if any composed stage drifts, the end-to-end hash breaks.
# The date-axis windows are unpartitioned but CALENDAR-BOUNDED
# (same argument as indicator_advance_decline); the VaR threshold
# enters as a broadcast one-row scalar from the global-rank
# subquery, never a driver-side collect.
# ---------------------------------------------------------------------------

_RISK_REPORT_ORACLE = f"""
WITH {_STOCK_CTE},
{_SDIFF_CTE},
pnl AS (
    SELECT trade_date,
           sum(x) AS p,
           sum(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS n_adv,
           sum(CASE WHEN x < 0 THEN 1 ELSE 0 END) AS n_dec
    FROM sdiff WHERE x IS NOT NULL
    GROUP BY trade_date
),
hhi AS (
    SELECT d.trade_date,
           sum((d.sc * 1000000 // t.total) * (d.sc * 1000000 // t.total))
               AS hhi_ppm2
    FROM daily d
    JOIN (SELECT trade_date, sum(sc) AS total
          FROM daily GROUP BY trade_date) t
      ON d.trade_date = t.trade_date
    GROUP BY d.trade_date
),
var95 AS (
    SELECT p AS threshold
    FROM (SELECT p,
                 row_number() OVER (ORDER BY p, trade_date) AS rn,
                 count(*) OVER () AS n
          FROM pnl)
    WHERE rn = n // 20 + 1
),
curve AS (
    SELECT trade_date, p, n_adv, n_dec,
           sum(p) OVER (ORDER BY trade_date
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_p
    FROM pnl
)
SELECT c.trade_date,
       CAST(c.p AS BIGINT) AS pnl_cents,
       CAST(c.cum_p AS BIGINT) AS cum_pnl_cents,
       CAST(max(c.cum_p) OVER (ORDER BY c.trade_date
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) - c.cum_p AS BIGINT)
           AS drawdown_cents,
       CAST(h.hhi_ppm2 AS BIGINT) AS hhi_ppm2,
       CAST(c.n_adv AS BIGINT) AS n_adv,
       CAST(c.n_dec AS BIGINT) AS n_dec,
       CAST(CASE WHEN c.p <= v.threshold THEN 1 ELSE 0 END AS BIGINT)
           AS var_breach
FROM curve c
JOIN hhi h ON c.trade_date = h.trade_date
CROSS JOIN var95 v
"""


def risk_report_frame(st: DataFrame) -> DataFrame:
    """The composed risk pipeline on an arbitrary stock frame — split
    from the registered query so a replicated input runs through the
    IDENTICAL plan (1x/10x/100x symbols with spill/peak-memory, and the
    1000x spill cliff: BASELINE.md §11-§13)."""
    from pyspark.sql import Window

    from ..caching import track_persist
    from ..operators.window_metrics import with_global_rank

    # ONE daily rollup feeds both the P&L chain and the HHI branch
    # (two separate rollups made the 100x probe's top two spill
    # producers the twin 60M-group HashAggregates). The explicit
    # repartition("symbol") makes the aggregation shuffle on symbol
    # alone — hash(symbol) satisfies the agg's (symbol, trade_date)
    # clustering AND the lag window's partitioning, so the whole P&L
    # chain runs off a single wide exchange with no re-shuffle before
    # the window sort. TRACKED persist: two consumers, and
    # release_caches() frees it between serving requests.
    daily = track_persist(
        st.repartition("symbol")
        .groupBy("symbol", "trade_date")
        .agg(F.sum("cents").alias("sc"))
    )
    # pnl feeds three consumers (rank, count, curve) — TRACKED persist
    # so release_caches() can free it between serving requests (a bare
    # .cache() here would pin it for the session lifetime).
    pnl = track_persist(
        sdiff_from_daily(daily)
        .groupBy("trade_date")
        .agg(
            F.sum("x").alias("p"),
            F.sum(F.when(F.col("x") > 0, 1).otherwise(0)).alias("n_adv"),
            F.sum(F.when(F.col("x") < 0, 1).otherwise(0)).alias("n_dec"),
        )
    )

    # Per-date totals come straight off the stock frame, NOT from
    # ``daily``: sum(sc) per date over the (symbol, date) rollup equals
    # sum(cents) per date over the raw rows (associative BIGINT sum),
    # and ``daily`` is ~1 group per input row (596k groups / 600k rows
    # at sf0.1) so aggregating it a second time re-does full-width hash
    # work for zero combine benefit — measured at 100x symbols this
    # was one of the two big spill producers (BASELINE.md §11).
    # The direct sum map-side-combines to a calendar-bounded group
    # count instead.
    tot = st.groupBy("trade_date").agg(F.sum("cents").alias("total"))
    share = F.expr("sc * 1000000 div total")
    hhi = (
        daily.join(F.broadcast(tot), "trade_date")
        .groupBy("trade_date")
        .agg(F.sum(share * share).alias("hhi_ppm2"))
    )

    ranked = with_global_rank(pnl, ["p", "trade_date"], rank_col="rn")
    total_days = pnl.agg(F.count(F.lit(1)).alias("n"))
    var95 = (
        ranked.join(F.broadcast(total_days))
        .where(F.col("rn") == F.expr("n div 20 + 1"))
        .select(F.col("p").alias("threshold"))
    )

    wdate = Window.orderBy("trade_date").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    curve = pnl.select(
        "trade_date",
        "p",
        "n_adv",
        "n_dec",
        F.sum("p").over(wdate).alias("cum_p"),
    )
    report = (
        curve.withColumn(
            "drawdown_cents", F.max("cum_p").over(wdate) - F.col("cum_p")
        )
        .join(hhi, "trade_date")
        .join(F.broadcast(var95))
    )
    return report.select(
        "trade_date",
        F.col("p").alias("pnl_cents"),
        F.col("cum_p").alias("cum_pnl_cents"),
        "drawdown_cents",
        "hhi_ppm2",
        F.col("n_adv").cast("bigint").alias("n_adv"),
        F.col("n_dec").cast("bigint").alias("n_dec"),
        F.when(F.col("p") <= F.col("threshold"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("var_breach"),
    )


@register(
    "indicator_risk_report",
    _RISK_REPORT_ORACLE,
    doc="portfolio risk-report capstone: daily P&L, cumulative curve, "
    "drawdown of the curve, HHI concentration, breadth, and VaR95 "
    "breach flags composed in ONE plan — the integration exhibit for "
    "the indicator family; all exact BIGINT, VaR threshold broadcast "
    "as a one-row scalar",
)
def q_risk_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return risk_report_frame(_stock(spark, sf_dir))


# ---------------------------------------------------------------------------
# SMA crossover signals: the reference's own analytics
# domain — fast/slow moving-average golden/death crosses per symbol.
# Pure windows over one shuffle (both SMAs + the lag share the same
# partition/order). Determinism: each SMA is an exact decimal window
# sum cast to double over a ROWS frame (the rolling_avg_sma7 recipe),
# so the sign tests compare bit-identical doubles on both engines.
# ---------------------------------------------------------------------------

_SMA_FAST, _SMA_SLOW = 5, 20

# The stock view with float closes, shared by the crossover and
# drawdown plans (oracle CTE and engine frame).
_PRICED_CTE = """priced AS (
    SELECT l_partkey AS symbol, CAST(l_shipdate AS DATE) AS trade_date,
           l_orderkey AS order_key, l_linenumber AS line_number,
           l_extendedprice AS close
    FROM lineitem
)"""


def _priced(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_partkey").alias("symbol"),
        F.to_date("l_shipdate").alias("trade_date"),
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_number"),
        F.col("l_extendedprice").alias("close"),
    )

_CROSSOVER_ORACLE = f"""
WITH {_PRICED_CTE},
sma AS (
    SELECT symbol, trade_date, order_key, line_number,
           CAST(sum(CAST(close AS DECIMAL(18,4))) OVER wf AS DOUBLE)
               / count(*) OVER wf AS sma_fast,
           CAST(sum(CAST(close AS DECIMAL(18,4))) OVER ws AS DOUBLE)
               / count(*) OVER ws AS sma_slow
    FROM priced
    WINDOW wf AS (PARTITION BY symbol ORDER BY trade_date, order_key, line_number
                  ROWS BETWEEN {_SMA_FAST - 1} PRECEDING AND CURRENT ROW),
         ws AS (PARTITION BY symbol ORDER BY trade_date, order_key, line_number
                  ROWS BETWEEN {_SMA_SLOW - 1} PRECEDING AND CURRENT ROW)
),
diffed AS (
    SELECT symbol, trade_date, order_key, line_number, sma_fast, sma_slow,
           sma_fast - sma_slow AS d,
           lag(sma_fast - sma_slow) OVER (
               PARTITION BY symbol ORDER BY trade_date, order_key, line_number
           ) AS prev_d
    FROM sma
)
SELECT symbol, trade_date, order_key, line_number, sma_fast, sma_slow,
       CASE WHEN prev_d <= 0 AND d > 0 THEN 'golden_cross'
            ELSE 'death_cross' END AS signal
FROM diffed
WHERE (prev_d <= 0 AND d > 0) OR (prev_d >= 0 AND d < 0)
"""


@register(
    "sma_crossover_signals",
    _CROSSOVER_ORACLE,
    doc="fast/slow SMA golden/death crossover detection per symbol — the "
    "reference's analytics domain, pure windows, one shuffle "
    "(SURVEY §2.5 ext)",
)
def q_sma_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    priced = _priced(spark, sf_dir)
    order = ["trade_date", "order_key", "line_number"]
    base = Window.partitionBy("symbol").orderBy(*order)
    wf = base.rowsBetween(-(_SMA_FAST - 1), Window.currentRow)
    ws = base.rowsBetween(-(_SMA_SLOW - 1), Window.currentRow)

    def sma(w):
        return F.sum(dec("close")).over(w).cast("double") / F.count(F.lit(1)).over(w)

    diffed = (
        priced.withColumn("sma_fast", sma(wf))
        .withColumn("sma_slow", sma(ws))
        .withColumn("d", F.col("sma_fast") - F.col("sma_slow"))
        .withColumn("prev_d", F.lag("d").over(base))
    )
    up = (F.col("prev_d") <= 0) & (F.col("d") > 0)
    down = (F.col("prev_d") >= 0) & (F.col("d") < 0)
    return diffed.where(up | down).select(
        "symbol", "trade_date", "order_key", "line_number",
        "sma_fast", "sma_slow",
        F.when(up, F.lit("golden_cross")).otherwise(F.lit("death_cross")).alias("signal"),
    )


# ---------------------------------------------------------------------------
# Max drawdown per symbol: peak-to-trough loss off the
# running maximum — the classic risk metric for the reference's
# domain. Every step is order-free-exact: running max of 2-dp prices
# is exact double comparison, each drawdown is one division of exact
# doubles, and the final max picks among deterministic values.
# ---------------------------------------------------------------------------

_DRAWDOWN_PER_SYMBOL_ORACLE = f"""
WITH {_PRICED_CTE},
tracked AS (
    SELECT symbol, close,
           max(close) OVER (
               PARTITION BY symbol ORDER BY trade_date, order_key, line_number
               ROWS UNBOUNDED PRECEDING
           ) AS run_max
    FROM priced
)
SELECT symbol,
       max((run_max - close) / run_max) AS max_drawdown,
       max(run_max) AS peak_close,
       CAST(count(*) AS BIGINT) AS n_bars
FROM tracked
GROUP BY symbol
"""


@register(
    "max_drawdown_per_symbol",
    _DRAWDOWN_PER_SYMBOL_ORACLE,
    doc="max peak-to-trough drawdown off the running max per symbol — "
    "order-free-exact window arithmetic (SURVEY §2.5 ext)",
)
def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    priced = _priced(spark, sf_dir)
    w = (
        Window.partitionBy("symbol")
        .orderBy("trade_date", "order_key", "line_number")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tracked = priced.withColumn("run_max", F.max("close").over(w))
    dd = (F.col("run_max") - F.col("close")) / F.col("run_max")
    return tracked.groupBy("symbol").agg(
        F.max(dd).alias("max_drawdown"),
        F.max("run_max").alias("peak_close"),
        F.count(F.lit(1)).cast("bigint").alias("n_bars"),
    )


# ---------------------------------------------------------------------------
# VWAP per symbol-day: the volume-weighted price every
# execution desk computes. Exact decimal numerator/denominator (the
# weighted_avg_pricing recipe) — the division happens once, in double,
# identically on both engines.
# ---------------------------------------------------------------------------

_VWAP_SYMBOL_DAY_ORACLE = """
SELECT l_partkey AS symbol,
       CAST(l_shipdate AS DATE) AS trade_date,
       CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,4))
                     * CAST(l_extendedprice AS DECIMAL(18,4)) AS DECIMAL(28,8)))
            AS DOUBLE)
           / CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS vwap,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
FROM lineitem
GROUP BY 1, 2
"""


@register(
    "vwap_per_symbol_day",
    _VWAP_SYMBOL_DAY_ORACLE,
    doc="volume-weighted average price per symbol-day; exact decimal "
    "num/den, one double division (SURVEY §2.8 ext)",
)
def q_vwap_symbol_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    num = F.sum((dec("l_quantity") * dec("l_extendedprice")).cast("decimal(28,8)"))
    den = F.sum(dec("l_quantity"))
    return li.groupBy(
        F.col("l_partkey").alias("symbol"),
        F.to_date("l_shipdate").alias("trade_date"),
    ).agg(
        (num.cast("double") / den.cast("double")).alias("vwap"),
        F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("total_qty"),
    )


# ---------------------------------------------------------------------------
# OHLC resample: tick stream → hourly candlesticks per
# event type — the reference domain's bar-building op. Open/close are
# deterministic via (ts, event_id) total order (Spark min_by/max_by on
# a struct key ≡ DuckDB ordered-aggregate first/last); volume is an
# exact decimal sum. One shuffle on the (hour, type) group key.
# ---------------------------------------------------------------------------

OHLC_ORACLE = """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bar_hour,
       event_type,
       first(value ORDER BY ts, event_id) AS open_v,
       max(value) AS high_v,
       min(value) AS low_v,
       last(value ORDER BY ts, event_id) AS close_v,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS volume,
       CAST(count(*) AS BIGINT) AS n_ticks
FROM events
GROUP BY 1, 2
"""


@register(
    "ohlc_hourly_resample",
    OHLC_ORACLE,
    doc="tick -> hourly OHLC candlesticks per event type; deterministic "
    "open/close via (ts, event_id) total order (SURVEY §2.8 ext)",
)
def q_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import dec as _dec

    ev = load_table(spark, sf_dir, "events")
    key = F.struct("ts", "event_id")
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("bar_hour"), "event_type"
    ).agg(
        F.min_by("value", key).alias("open_v"),
        F.max("value").alias("high_v"),
        F.min("value").alias("low_v"),
        F.max_by("value", key).alias("close_v"),
        F.sum(_dec("value")).cast("double").alias("volume"),
        F.count(F.lit(1)).cast("bigint").alias("n_ticks"),
    )
