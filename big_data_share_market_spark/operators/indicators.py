"""Rolling-window indicators and trading strategies (SURVEY §2.E2-E3,
E8-E11) as pure Spark Window expressions — no UDFs, fully inside
whole-stage codegen; the ewm family (EMA/MACD/TSI/ADX) is in ewm.py.

Semantics replicate the reference's pandas AS WRITTEN, including its
quirks (SURVEY §7 risk 2):

* pandas `rolling(n)` yields NaN until the window is full → here the
  expression is NULL while the per-key row count < n (risk 3);
* scalping (E8) compares close against a rolling extremum that
  *includes* close itself, so signals can only fire on exact ties —
  replicated, not fixed (`streamlit_app/streamlit_app.py:212-216`);
* all comparisons against NULL windows collapse to the pandas
  behavior `NaN-compare == False` via when/otherwise fallthrough.

Rolling means go through the decimal-exact sum so the DuckDB oracle
matches bit-for-bit (see functions/__init__.py).

Series mapping (FIXTURES.md §3): events.value is the close price of
key events.user_id; ordering is (ts, event_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions import DEC
from ..tables import load_table
from .transforms import BARS_CTE, bar_window, ohlc_bars

_ORACLE_KEY_WINDOW = "(PARTITION BY user_id ORDER BY ts, event_id)"


def _series(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (load_table(spark, sf_dir, "events")
            .select("user_id", "event_id", "ts",
                    F.col("value").alias("close")))


def _w():
    return W.partitionBy("user_id").orderBy("ts", "event_id")


def _rolling_mean(col, window_spec, n: int):
    """pandas rolling(n).mean(): decimal-exact mean, NULL until the
    frame holds n rows."""
    frame = window_spec.rowsBetween(-(n - 1), 0)
    return F.when(
        F.count(col).over(frame) == n,
        F.sum(col.cast(DEC)).over(frame).cast("double") / F.count(col).over(frame),
    )


def _rolling_mean_sql(expr: str, n: int, over: str = _ORACLE_KEY_WINDOW) -> str:
    frame = f"OVER ({over[1:-1]} ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW)"
    return (f"CASE WHEN COUNT({expr}) {frame} = {n} THEN "
            f"CAST(SUM(CAST({expr} AS DECIMAL(25,6))) {frame} AS DOUBLE)"
            f" / COUNT({expr}) {frame} END")


# ---------------------------------------------------------------------------
# E2 — SMA
# ---------------------------------------------------------------------------

def q_sma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMA(20) (`streamlit_app/streamlit_app.py:168-169`)."""
    s = _series(spark, sf_dir)
    return s.withColumn("sma_20", _rolling_mean(F.col("close"), _w(), 20))


_SMA_SQL = f"""
SELECT user_id, event_id, ts, value AS close,
       {_rolling_mean_sql('value', 20)} AS sma_20
FROM events
"""


# ---------------------------------------------------------------------------
# E3 — RSI
# ---------------------------------------------------------------------------

def q_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSI(14) (`streamlit_app/streamlit_app.py:171-176`): delta =
    diff(close); gain/loss = clamped deltas (first-row NaN delta → 0,
    matching pandas .where); rs = gain/loss rolling means; RSI =
    100 − 100/(1+rs). Zero/NULL loss → NULL (non-ANSI division),
    identical in the oracle."""
    s = _series(spark, sf_dir)
    w = _w()
    # delta feeds windowed sums, which cannot nest a window function:
    # one projection per dependency level.
    s = s.withColumn("delta", F.col("close") - F.lag("close").over(w))
    gain = F.when(F.col("delta") > 0, F.col("delta")).otherwise(F.lit(0.0))
    loss = F.when(F.col("delta") < 0, -F.col("delta")).otherwise(F.lit(0.0))
    s = s.withColumns({"gain_avg": _rolling_mean(gain, w, 14),
                       "loss_avg": _rolling_mean(loss, w, 14)})
    rs = F.col("gain_avg") / F.nullif(F.col("loss_avg"), F.lit(0.0))
    return s.select(
        "user_id", "event_id", "ts", "close",
        (F.lit(100.0) - (F.lit(100.0) / (F.lit(1.0) + rs))).alias("rsi_14"))


_RSI_SQL = f"""
WITH d AS (
  SELECT user_id, event_id, ts, value AS close,
         value - lag(value) OVER {_ORACLE_KEY_WINDOW} AS delta
  FROM events),
g AS (
  SELECT user_id, event_id, ts, close,
         {_rolling_mean_sql("CASE WHEN delta > 0 THEN delta ELSE 0.0 END", 14)} AS gain_avg,
         {_rolling_mean_sql("CASE WHEN delta < 0 THEN -delta ELSE 0.0 END", 14)} AS loss_avg
  FROM d)
SELECT user_id, event_id, ts, close,
       100.0 - (100.0 / (1.0 + gain_avg / nullif(loss_avg, 0.0))) AS rsi_14
FROM g
"""


# ---------------------------------------------------------------------------
# E8 — scalping strategy (as-written: self-inclusive rolling extrema)
# ---------------------------------------------------------------------------

def q_scalping(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _series(spark, sf_dir)
    w5 = _w().rowsBetween(-4, 0)
    full = F.count("close").over(w5) == 5
    rmin = F.when(full, F.min("close").over(w5))
    rmax = F.when(full, F.max("close").over(w5))
    return s.withColumn(
        "signal",
        F.when(F.col("close") < rmin, 1)
        .when(F.col("close") > rmax, -1)
        .otherwise(0),
    )


_SCALPING_SQL = """
SELECT user_id, event_id, ts, close,
       CASE WHEN close < rmin THEN 1 WHEN close > rmax THEN -1 ELSE 0 END AS signal
FROM (
  SELECT user_id, event_id, ts, value AS close,
         CASE WHEN COUNT(value) OVER w5 = 5 THEN MIN(value) OVER w5 END AS rmin,
         CASE WHEN COUNT(value) OVER w5 = 5 THEN MAX(value) OVER w5 END AS rmax
  FROM events
  WINDOW w5 AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
"""


# ---------------------------------------------------------------------------
# E9 — range trading (global per-key extrema of bar low/high)
# ---------------------------------------------------------------------------

def q_range_trading(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`streamlit_app/streamlit_app.py:218-224`: support=min(low),
    resistance=max(high) over the whole frame; ±1 within 5% bands.
    Per-key unbounded window — no second scan, no driver round-trip."""
    bars = ohlc_bars(spark, sf_dir)
    wall = W.partitionBy("user_id").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing)
    return (
        bars.withColumn("support", F.min("low").over(wall))
        .withColumn("resistance", F.max("high").over(wall))
        .withColumn(
            "signal",
            F.when(F.col("close") <= F.col("support") * 1.05, 1)
            .when(F.col("close") >= F.col("resistance") * 0.95, -1)
            .otherwise(0))
        .select("user_id", "bar_ts", "close", "support", "resistance", "signal")
    )


_RANGE_TRADING_SQL = f"""
WITH {BARS_CTE}
SELECT user_id, bar_ts, close,
       MIN(low) OVER wk AS support,
       MAX(high) OVER wk AS resistance,
       CASE WHEN close <= MIN(low) OVER wk * 1.05 THEN 1
            WHEN close >= MAX(high) OVER wk * 0.95 THEN -1
            ELSE 0 END AS signal
FROM bars
WINDOW wk AS (PARTITION BY user_id)
"""


# ---------------------------------------------------------------------------
# E10 — momentum
# ---------------------------------------------------------------------------

def q_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`streamlit_app/streamlit_app.py:226-231`: momentum = close −
    close.shift(5); sign → ±1 (NULL momentum → 0, pandas NaN-compare)."""
    s = _series(spark, sf_dir)
    return (
        s.withColumn("momentum", F.col("close") - F.lag("close", 5).over(_w()))
        .withColumn(
            "signal",
            F.when(F.col("momentum") > 0, 1)
            .when(F.col("momentum") < 0, -1)
            .otherwise(0))
    )


_MOMENTUM_SQL = f"""
SELECT user_id, event_id, ts, value AS close,
       value - lag(value, 5) OVER {_ORACLE_KEY_WINDOW} AS momentum,
       CASE WHEN value - lag(value, 5) OVER {_ORACLE_KEY_WINDOW} > 0 THEN 1
            WHEN value - lag(value, 5) OVER {_ORACLE_KEY_WINDOW} < 0 THEN -1
            ELSE 0 END AS signal
FROM events
"""


# ---------------------------------------------------------------------------
# E11 — breakout (window-of-window: lagged rolling extrema)
# ---------------------------------------------------------------------------

def q_breakout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`streamlit_app/streamlit_app.py:233-239`: +1 where close exceeds
    yesterday's rolling-20 max, −1 below yesterday's rolling-20 min."""
    s = _series(spark, sf_dir)
    w20 = _w().rowsBetween(-19, 0)
    full = F.count("close").over(w20) == 20
    s = (s.withColumn("rmax", F.when(full, F.max("close").over(w20)))
         .withColumn("rmin", F.when(full, F.min("close").over(w20))))
    w = _w()
    return (
        s.withColumn("prev_rmax", F.lag("rmax").over(w))
        .withColumn("prev_rmin", F.lag("rmin").over(w))
        .withColumn(
            "signal",
            F.when(F.col("close") > F.col("prev_rmax"), 1)
            .when(F.col("close") < F.col("prev_rmin"), -1)
            .otherwise(0))
        .select("user_id", "event_id", "ts", "close", "signal")
    )


_BREAKOUT_SQL = f"""
WITH r AS (
  SELECT user_id, event_id, ts, value AS close,
         CASE WHEN COUNT(value) OVER w20 = 20 THEN MAX(value) OVER w20 END AS rmax,
         CASE WHEN COUNT(value) OVER w20 = 20 THEN MIN(value) OVER w20 END AS rmin
  FROM events
  WINDOW w20 AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
SELECT user_id, event_id, ts, close,
       CASE WHEN close > lag(rmax) OVER w THEN 1
            WHEN close < lag(rmin) OVER w THEN -1
            ELSE 0 END AS signal
FROM r
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


# ---------------------------------------------------------------------------
# Beyond-reference standard indicators: Bollinger, Stochastic, OBV
# ---------------------------------------------------------------------------

def _rolling_std(col, window_spec, n: int):
    """pandas rolling(n).std() (ddof=1) via decimal-exact power sums:
    sqrt((S2 - S1^2/n) / (n-1)). The sums are associative decimal
    adds, the outer arithmetic is scalar IEEE — identical on both
    engines — so no reliance on either engine's streaming-variance
    kernel (whose partial-merge order is nondeterministic)."""
    frame = window_spec.rowsBetween(-(n - 1), 0)
    s1 = F.sum(col.cast(DEC)).over(frame).cast("double")
    s2 = F.sum((col * col).cast(DEC)).over(frame).cast("double")
    return F.when(
        F.count(col).over(frame) == n,
        F.sqrt((s2 - s1 * s1 / n) / (n - 1)))


def _rolling_std_sql(expr: str, n: int, over: str = _ORACLE_KEY_WINDOW) -> str:
    frame = f"OVER ({over[1:-1]} ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW)"
    s1 = f"CAST(SUM(CAST({expr} AS DECIMAL(25,6))) {frame} AS DOUBLE)"
    s2 = (f"CAST(SUM(CAST(({expr}) * ({expr}) AS DECIMAL(25,6))) {frame}"
          " AS DOUBLE)")
    return (f"CASE WHEN COUNT({expr}) {frame} = {n} THEN "
            f"sqrt(({s2} - {s1} * {s1} / {n}) / {n - 1}) END")


def q_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands(20, 2): SMA(20) +/- 2 rolling stddev (sample),
    NULL until the window fills — the volatility-envelope companion
    to the reference's SMA (E2)."""
    s = _series(spark, sf_dir)
    mid = _rolling_mean(F.col("close"), _w(), 20)
    sd = _rolling_std(F.col("close"), _w(), 20)
    return (s.withColumn("bb_mid", mid)
            .withColumn("bb_up", mid + 2 * sd)
            .withColumn("bb_dn", mid - 2 * sd))


_BOLLINGER_SQL = f"""
SELECT user_id, event_id, ts, value AS close,
       {_rolling_mean_sql('value', 20)} AS bb_mid,
       {_rolling_mean_sql('value', 20)}
         + 2 * {_rolling_std_sql('value', 20)} AS bb_up,
       {_rolling_mean_sql('value', 20)}
         - 2 * {_rolling_std_sql('value', 20)} AS bb_dn
FROM events
"""


def q_stochastic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic oscillator %K(14) / %D(3): %K = 100 (close - min14)
    / (max14 - min14); %D = mean of the last three %K values, NULL
    until three exist (pandas min_periods semantics — a NULL operand
    nulls the lag-chain sum)."""
    s = _series(spark, sf_dir)
    w = _w()
    frame14 = w.rowsBetween(-13, 0)
    k = F.when(
        F.count("close").over(frame14) == 14,
        100 * (F.col("close") - F.min("close").over(frame14))
        / (F.max("close").over(frame14) - F.min("close").over(frame14)))
    out = s.withColumn("pct_k", k)
    # %D as an explicit lag chain, not SUM OVER: the three %K doubles
    # are bit-identical across engines, and a left-to-right
    # ((k2 + k1) + k0) / 3 is IEEE-deterministic, whereas a windowed
    # decimal SUM exposes each engine's double->decimal rounding of
    # %K (observed 1e-6 drift at sf 0.01). NULL-until-3 comes free:
    # any NULL operand nulls the sum, matching pandas min_periods.
    d = (F.lag("pct_k", 2).over(w) + F.lag("pct_k", 1).over(w)
         + F.col("pct_k")) / 3
    return out.withColumn("pct_d", d)


_STOCHASTIC_SQL = f"""
WITH k AS (
  SELECT user_id, event_id, ts, value AS close,
         CASE WHEN COUNT(value) OVER w14 = 14 THEN
           100 * (value - MIN(value) OVER w14)
             / (MAX(value) OVER w14 - MIN(value) OVER w14) END AS pct_k
  FROM events
  WINDOW w14 AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
SELECT user_id, event_id, ts, close, pct_k,
       (lag(pct_k, 2) OVER w + lag(pct_k, 1) OVER w + pct_k) / 3 AS pct_d
FROM k
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-balance volume over hourly bars: cumulative
    sign(close - prev_close) * volume per key. Integer arithmetic
    (volume is a count), so the running sum is exact; one shuffle
    shared by the lag and the cumsum (same window key)."""
    bars = ohlc_bars(spark, sf_dir)
    w = bar_window()
    signed = (F.signum(F.col("close") - F.lag("close").over(w))
              .cast("long") * F.col("volume"))
    return (bars.withColumn("signed_vol", F.coalesce(signed, F.lit(0)))
            .withColumn("obv", F.sum("signed_vol")
                        .over(w.rowsBetween(W.unboundedPreceding, 0)))
            .select("user_id", "bar_ts", "close", "volume", "obv"))


_OBV_SQL = f"""
WITH {BARS_CTE},
signed AS (
  SELECT user_id, bar_ts, close, volume,
         COALESCE(CAST(sign(close - lag(close) OVER w) AS BIGINT)
                  * volume, 0) AS signed_vol
  FROM bars
  WINDOW w AS (PARTITION BY user_id ORDER BY bar_ts))
SELECT user_id, bar_ts, close, volume,
       CAST(SUM(signed_vol) OVER (PARTITION BY user_id ORDER BY bar_ts
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS obv
FROM signed
"""


# ---------------------------------------------------------------------------
# Stochastic RSI (indicator-of-indicator composition)
# ---------------------------------------------------------------------------

def q_stoch_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StochRSI(14): the stochastic %K applied to the RSI series
    instead of price — (RSI − min₁₄RSI)/(max₁₄RSI − min₁₄RSI), the
    bounded-sensitivity refinement Chande & Kroll 1994 introduced
    (public). The indicator-of-indicator composition: q_rsi's output
    doubles are bit-identical cross-engine, the min/max windows ride
    the SAME key-ordered layout (no second exchange), and the gate
    requires 14 non-null RSI values so warmup is NULL; flat RSI
    windows (max == min) are NULL via nullif."""
    s = q_rsi(spark, sf_dir)
    w = _w()
    f14 = w.rowsBetween(-13, 0)
    stoch = F.when(
        F.count("rsi_14").over(f14) == 14,
        (F.col("rsi_14") - F.min("rsi_14").over(f14))
        / F.nullif(F.max("rsi_14").over(f14) - F.min("rsi_14").over(f14),
                   F.lit(0.0)))
    return s.withColumn("stoch_rsi", stoch)


_STOCH_RSI_SQL = f"""
WITH d AS (
  SELECT user_id, event_id, ts, value AS close,
         value - lag(value) OVER {_ORACLE_KEY_WINDOW} AS delta
  FROM events),
g AS (
  SELECT user_id, event_id, ts, close,
         {_rolling_mean_sql("CASE WHEN delta > 0 THEN delta ELSE 0.0 END", 14)} AS gain_avg,
         {_rolling_mean_sql("CASE WHEN delta < 0 THEN -delta ELSE 0.0 END", 14)} AS loss_avg
  FROM d),
r AS (
  SELECT user_id, event_id, ts, close,
         100.0 - (100.0 / (1.0 + gain_avg / nullif(loss_avg, 0.0)))
           AS rsi_14
  FROM g)
SELECT user_id, event_id, ts, close, rsi_14,
       CASE WHEN COUNT(rsi_14) OVER w14 = 14 THEN
         (rsi_14 - MIN(rsi_14) OVER w14)
           / nullif(MAX(rsi_14) OVER w14 - MIN(rsi_14) OVER w14, 0.0)
       END AS stoch_rsi
FROM r
WINDOW w14 AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# Detrended price oscillator
# ---------------------------------------------------------------------------

def q_dpo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO(20): close displaced back (n/2 + 1) periods minus the
    current SMA(20) — removes the long trend so cycle length shows;
    NULL until both the 20-value mean and the 11-back displacement
    exist. Pure windows on one key-ordered layout."""
    s = _series(spark, sf_dir)
    w = _w()
    sma20 = _rolling_mean(F.col("close"), w, 20)
    displaced = F.lag("close", 11).over(w)
    return (s.withColumn("sma_20", sma20)
            .withColumn("dpo_20", displaced - F.col("sma_20")))


_DPO_SQL = f"""
SELECT user_id, event_id, ts, value AS close,
       {_rolling_mean_sql('value', 20)} AS sma_20,
       lag(value, 11) OVER {_ORACLE_KEY_WINDOW}
         - {_rolling_mean_sql('value', 20)} AS dpo_20
FROM events
"""


QUERIES = {
    "sma": (q_sma, _SMA_SQL),
    "stoch_rsi": (q_stoch_rsi, _STOCH_RSI_SQL),
    "dpo": (q_dpo, _DPO_SQL),
    "bollinger_bands": (q_bollinger, _BOLLINGER_SQL),
    "stochastic_oscillator": (q_stochastic, _STOCHASTIC_SQL),
    "obv": (q_obv, _OBV_SQL),
    "rsi": (q_rsi, _RSI_SQL),
    "scalping_strategy": (q_scalping, _SCALPING_SQL),
    "range_trading_strategy": (q_range_trading, _RANGE_TRADING_SQL),
    "momentum_strategy": (q_momentum, _MOMENTUM_SQL),
    "breakout_strategy": (q_breakout, _BREAKOUT_SQL),
}
