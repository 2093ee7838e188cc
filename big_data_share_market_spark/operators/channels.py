"""Bar-based channel / oscillator indicators beyond the reference's
set: ATR (Wilder), Williams %R, CCI, MFI, Chaikin money flow, Keltner
channels.

The reference computes its indicator family over per-key price series
(`streamlit_app/streamlit_app.py:165-292`); these extend the same
hourly-bar surface (`transforms.ohlc_bars`) with the standard
channel/flow indicators a share-market console offers next to
Bollinger/stochastic/OBV. Same execution contract as indicators.py /
ewm.py:

* rolling means go through the decimal-exact sum so the DuckDB oracle
  matches bit-for-bit, with NULL until the window holds n rows;
* the recursive indicators run in one partition-wide Arrow pass each.
  Wilder ATR (and every plain EMA here: chandelier exit, force index,
  Elder ray, Chaikin oscillator) rides the shared `_apply_ewm` kernel
  (alpha = 1/n), oracle'd by the same NULL-skipping `list_reduce`.
  Parabolic SAR, supertrend, KAMA, TRIX and mass index are per-key
  steps (`_sar_step`, `_supertrend_step`, `_kama_step`, `_trix_step`,
  `_mass_step`; TRIX and mass index chain the shared `ewm._ewm_step`)
  run by `ewm.keyed_scan`, oracle'd by recursive CTEs or list folds in
  the same IEEE op order. The stream's supertrend_per_key runs the
  same supertrend step on ticks;
* CCI's mean absolute deviation — a window-of-window that neither
  engine can express as a plain frame aggregate — is folded over the
  frame's value list with the deviations QUANTIZED to integer 1e-9
  ticks, so the fold is an order-free BIGINT sum and hash-identical
  across engines;
* zero denominators yield NULL on both engines (nullif).

Plan shape: the bar aggregation's hash exchange on user_id followed by
Window stages and, for the recursive indicators, one mapInPandas pass
over a key-sorted layout (the `_apply_ewm` riders reuse the Window
layout; the `keyed_scan` callers stage their own key repartition) —
no joins. At 100 TB the cost is the bar groupBy; the
indicator math is map-side over ~1/3600th of the event rows.
"""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions import DEC
from .ewm import (_apply_ewm, _ddl, _ewm_init, _ewm_sql, _ewm_step,
                  _ORACLE_BAR_WINDOW, keyed_scan)
from .indicators import _rolling_mean, _rolling_mean_sql
from .transforms import BARS_CTE, bar_window, ohlc_bars

_BAR_OVER = "(PARTITION BY user_id ORDER BY bar_ts)"

#: Typical price — written identically on both engines so the doubles
#: agree bit-for-bit.
_TP_SQL = "(high + low + close) / 3.0"


def _with_tr(bars: DataFrame) -> DataFrame:
    """True range: max(high-low, |high-prev_close|, |low-prev_close|),
    first bar TR = high-low (NaN-skipping row max, as in q_adx)."""
    w = bar_window()
    prev_close = F.lag("close").over(w)
    return bars.withColumn(
        "tr",
        F.greatest(
            F.col("high") - F.col("low"),
            F.coalesce(F.abs(F.col("high") - prev_close), F.lit(float("-inf"))),
            F.coalesce(F.abs(F.col("low") - prev_close), F.lit(float("-inf")))))


_TR_CTE = f"""
trc AS (
  SELECT user_id, bar_ts, high, low, close, volume,
         greatest(high - low,
                  COALESCE(abs(high - lag(close) OVER w), '-infinity'::DOUBLE),
                  COALESCE(abs(low - lag(close) OVER w), '-infinity'::DOUBLE)) AS tr
  FROM bars
  WINDOW w AS {_BAR_OVER})
"""


# ---------------------------------------------------------------------------
# ATR(14), Wilder smoothing
# ---------------------------------------------------------------------------

def q_atr_wilder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ATR(14) with Wilder's recursive smoothing — ewm(alpha=1/14,
    adjust=False) over the true range, the classical form (q_adx keeps
    the reference's rolling-mean ATR AS WRITTEN; this is the textbook
    one). The TR lag Window leaves the data hash(user_id)-partitioned
    and bar-sorted, so the kernel adds no exchange."""
    bars = _with_tr(ohlc_bars(spark, sf_dir))
    bars = _apply_ewm(bars, ["bar_ts"], {"atr_14": ("tr", 1.0 / 14.0)},
                      assume_sorted=True)
    return bars.select("user_id", "bar_ts", "close", "tr", "atr_14")


_ATR_SQL = f"""
WITH {BARS_CTE},
{_TR_CTE}
SELECT user_id, bar_ts, close, tr,
       {_ewm_sql('tr', '1.0/14.0', _ORACLE_BAR_WINDOW)} AS atr_14
FROM trc
"""


# ---------------------------------------------------------------------------
# Williams %R(14)
# ---------------------------------------------------------------------------

def q_williams_r(spark: SparkSession, sf_dir: str) -> DataFrame:
    """%R(14) = -100 * (HH14 - close) / (HH14 - LL14), NULL until the
    window holds 14 bars and on flat windows (HH == LL)."""
    bars = ohlc_bars(spark, sf_dir)
    f14 = bar_window().rowsBetween(-13, 0)
    hh = F.max("high").over(f14)
    ll = F.min("low").over(f14)
    pct_r = F.when(
        F.count("close").over(f14) == 14,
        F.lit(-100.0) * (hh - F.col("close")) / F.nullif(hh - ll, F.lit(0.0)))
    return (bars.withColumn("pct_r", pct_r)
            .select("user_id", "bar_ts", "close", "pct_r"))


_WILLIAMS_SQL = f"""
WITH {BARS_CTE}
SELECT user_id, bar_ts, close,
       CASE WHEN COUNT(close) OVER w14 = 14 THEN
         -100.0 * (MAX(high) OVER w14 - close)
           / nullif(MAX(high) OVER w14 - MIN(low) OVER w14, 0.0) END AS pct_r
FROM bars
WINDOW w14 AS (PARTITION BY user_id ORDER BY bar_ts
               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# CCI(20) — quantized mean-absolute-deviation fold
# ---------------------------------------------------------------------------

def q_cci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commodity channel index(20): (tp - SMA20(tp)) / (0.015 * MAD),
    where MAD is the mean of |tp_i - SMA20_current| over the SAME
    20-row frame — the deviations reference the frame's own mean, so
    no plain window aggregate expresses it. Here: collect the frame's
    tp list (20 doubles), quantize each |tp - sma| to integer 1e-9
    ticks, and fold with a BIGINT sum — order-free, so Spark's
    aggregate() and DuckDB's list_sum/list_transform agree exactly."""
    bars = ohlc_bars(spark, sf_dir)
    tp = (F.col("high") + F.col("low") + F.col("close")) / 3.0
    bars = bars.withColumn("tp", tp)
    f20 = bar_window().rowsBetween(-19, 0)
    bars = bars.withColumn("sma_tp", _rolling_mean(F.col("tp"), bar_window(), 20))
    madq = F.aggregate(
        F.collect_list("tp").over(f20),
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.floor(F.abs(x - F.col("sma_tp")) * 1e9).cast("long"))
    mad = F.when(F.count("tp").over(f20) == 20,
                 madq.cast("double") / 1e9 / 20)
    cci = (F.col("tp") - F.col("sma_tp")) / F.nullif(0.015 * mad, F.lit(0.0))
    return (bars.withColumn("cci_20", cci)
            .select("user_id", "bar_ts", "close", "tp", "cci_20"))


_CCI_SQL = f"""
WITH {BARS_CTE},
tpc AS (
  SELECT user_id, bar_ts, close, {_TP_SQL} AS tp
  FROM bars),
smac AS (
  SELECT user_id, bar_ts, close, tp,
         {_rolling_mean_sql('tp', 20, _BAR_OVER)} AS sma_tp,
         list(tp) OVER (PARTITION BY user_id ORDER BY bar_ts
                        ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS tps,
         COUNT(tp) OVER (PARTITION BY user_id ORDER BY bar_ts
                         ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS n20
  FROM tpc),
madc AS (
  SELECT user_id, bar_ts, close, tp, sma_tp,
         CASE WHEN n20 = 20 THEN
           CAST(list_sum(list_transform(tps,
                x -> CAST(floor(abs(x - sma_tp) * 1e9) AS BIGINT))) AS DOUBLE)
             / 1e9 / 20 END AS mad
  FROM smac)
SELECT user_id, bar_ts, close, tp,
       (tp - sma_tp) / nullif(0.015 * mad, 0.0) AS cci_20
FROM madc
"""


# ---------------------------------------------------------------------------
# MFI(14)
# ---------------------------------------------------------------------------

def q_mfi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money flow index(14): raw flow = tp * volume, split by the sign
    of the tp change (ties and the first bar flow to neither side);
    MFI = 100 - 100/(1 + pos14/neg14), NULL until 14 bars and when
    neg14 = 0 (non-ANSI division, as the rsi oracle does)."""
    bars = ohlc_bars(spark, sf_dir)
    tp = (F.col("high") + F.col("low") + F.col("close")) / 3.0
    bars = bars.withColumn("tp", tp)
    w = bar_window()
    prev_tp = F.lag("tp").over(w)
    mf = F.col("tp") * F.col("volume")
    bars = (bars
            .withColumn("pos_mf", F.when(F.col("tp") > prev_tp, mf).otherwise(F.lit(0.0)))
            .withColumn("neg_mf", F.when(F.col("tp") < prev_tp, mf).otherwise(F.lit(0.0))))
    pos14 = _rolling_mean(F.col("pos_mf"), w, 14)
    neg14 = _rolling_mean(F.col("neg_mf"), w, 14)
    # rolling MEANs, not sums: the shared decimal-exact helper — the
    # 1/14 factors cancel in the ratio exactly on both engines only if
    # both engines divide; they do (same helper text in the oracle).
    mfi = F.lit(100.0) - F.lit(100.0) / (F.lit(1.0) + pos14 / F.nullif(neg14, F.lit(0.0)))
    return (bars.withColumn("mfi_14", mfi)
            .select("user_id", "bar_ts", "close", "mfi_14"))


_MFI_SQL = f"""
WITH {BARS_CTE},
tpc AS (
  SELECT user_id, bar_ts, close, volume, {_TP_SQL} AS tp
  FROM bars),
flows AS (
  SELECT user_id, bar_ts, close,
         CASE WHEN tp > lag(tp) OVER w THEN tp * volume ELSE 0.0 END AS pos_mf,
         CASE WHEN tp < lag(tp) OVER w THEN tp * volume ELSE 0.0 END AS neg_mf
  FROM tpc
  WINDOW w AS {_BAR_OVER})
SELECT user_id, bar_ts, close,
       100.0 - 100.0 / (1.0 + {_rolling_mean_sql('pos_mf', 14, _BAR_OVER)}
         / nullif({_rolling_mean_sql('neg_mf', 14, _BAR_OVER)}, 0.0)) AS mfi_14
FROM flows
"""


# ---------------------------------------------------------------------------
# Chaikin money flow(20)
# ---------------------------------------------------------------------------

def q_cmf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMF(20) = Σ20(mfv) / Σ20(volume) where mfv = volume *
    ((close-low)-(high-close))/(high-low). Flat bars (high = low) have
    NULL multiplier and are SKIPPED by the numerator sum (decimal SUM
    ignores NULLs — documented deviation from pandas NaN poisoning);
    the gate counts bars, so output is NULL until 20 bars exist."""
    bars = ohlc_bars(spark, sf_dir)
    mfm = ((F.col("close") - F.col("low")) - (F.col("high") - F.col("close"))) \
        / F.nullif(F.col("high") - F.col("low"), F.lit(0.0))
    bars = bars.withColumn("mfv", mfm * F.col("volume"))
    f20 = bar_window().rowsBetween(-19, 0)
    cmf = F.when(
        F.count("close").over(f20) == 20,
        F.sum(F.col("mfv").cast(DEC)).over(f20).cast("double")
        / F.sum("volume").over(f20))
    return (bars.withColumn("cmf_20", cmf)
            .select("user_id", "bar_ts", "close", "volume", "cmf_20"))


_CMF_SQL = f"""
WITH {BARS_CTE},
mfvc AS (
  SELECT user_id, bar_ts, close, volume,
         ((close - low) - (high - close)) / nullif(high - low, 0.0)
           * volume AS mfv
  FROM bars)
SELECT user_id, bar_ts, close, volume,
       CASE WHEN COUNT(close) OVER w20 = 20 THEN
         CAST(SUM(CAST(mfv AS DECIMAL(25,6))) OVER w20 AS DOUBLE)
           / SUM(volume) OVER w20 END AS cmf_20
FROM mfvc
WINDOW w20 AS (PARTITION BY user_id ORDER BY bar_ts
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# Keltner channels(20, 10) — original SMA formulation
# ---------------------------------------------------------------------------

def q_keltner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keltner channels in Chester Keltner's original SMA form:
    mid = SMA20(typical price), bands = mid ± 2 * SMA10(true range).
    Window-pure (the ewm-mid variant would ride the ATR kernel; the
    SMA form keeps the whole query inside whole-stage codegen)."""
    bars = _with_tr(ohlc_bars(spark, sf_dir))
    tp = (F.col("high") + F.col("low") + F.col("close")) / 3.0
    bars = bars.withColumn("tp", tp)
    w = bar_window()
    mid = _rolling_mean(F.col("tp"), w, 20)
    band = 2 * _rolling_mean(F.col("tr"), w, 10)
    return (bars.withColumn("kc_mid", mid)
            .withColumn("kc_up", mid + band)
            .withColumn("kc_dn", mid - band)
            .select("user_id", "bar_ts", "close", "kc_mid", "kc_up", "kc_dn"))


_KELTNER_SQL = f"""
WITH {BARS_CTE},
{_TR_CTE},
tpc AS (
  SELECT user_id, bar_ts, close, tr, {_TP_SQL} AS tp
  FROM trc)
SELECT user_id, bar_ts, close,
       {_rolling_mean_sql('tp', 20, _BAR_OVER)} AS kc_mid,
       {_rolling_mean_sql('tp', 20, _BAR_OVER)}
         + 2 * {_rolling_mean_sql('tr', 10, _BAR_OVER)} AS kc_up,
       {_rolling_mean_sql('tp', 20, _BAR_OVER)}
         - 2 * {_rolling_mean_sql('tr', 10, _BAR_OVER)} AS kc_dn
FROM tpc
"""


# ---------------------------------------------------------------------------
# Ichimoku cloud (9/26/52, displaced ±26)
# ---------------------------------------------------------------------------

def _midline(n: int):
    f = bar_window().rowsBetween(-(n - 1), 0)
    return F.when(
        F.count("close").over(f) == n,
        (F.max("high").over(f) + F.min("low").over(f)) / 2.0)


def _midline_sql(n: int) -> str:
    f = (f"OVER (PARTITION BY user_id ORDER BY bar_ts "
         f"ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW)")
    return (f"CASE WHEN COUNT(close) {f} = {n} THEN "
            f"(MAX(high) {f} + MIN(low) {f}) / 2.0 END")


def q_ichimoku(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ichimoku cloud: tenkan = 9-bar midline, kijun = 26-bar midline,
    senkou A = (tenkan+kijun)/2 displaced 26 bars FORWARD (so each
    output row carries the cloud value plotted AT it — lag 26), senkou
    B = 52-bar midline displaced likewise, chikou = close displaced 26
    bars BACK (lead 26). Midlines are NULL until their window fills
    (pandas partial-window convention). All rolling extrema + lag/lead
    over ONE per-key ordering — a single exchange, no joins."""
    bars = ohlc_bars(spark, sf_dir)
    w = bar_window()
    bars = (bars.withColumn("tenkan", _midline(9))
            .withColumn("kijun", _midline(26))
            .withColumn("senkou_b_raw", _midline(52)))
    return (bars
            .withColumn("senkou_a",
                        F.lag((F.col("tenkan") + F.col("kijun")) / 2.0, 26).over(w))
            .withColumn("senkou_b", F.lag("senkou_b_raw", 26).over(w))
            .withColumn("chikou", F.lead("close", 26).over(w))
            .select("user_id", "bar_ts", "close", "tenkan", "kijun",
                    "senkou_a", "senkou_b", "chikou"))


_ICHIMOKU_SQL = f"""
WITH {BARS_CTE},
mids AS (
  SELECT user_id, bar_ts, close,
         {_midline_sql(9)} AS tenkan,
         {_midline_sql(26)} AS kijun,
         {_midline_sql(52)} AS senkou_b_raw
  FROM bars)
SELECT user_id, bar_ts, close, tenkan, kijun,
       lag((tenkan + kijun) / 2.0, 26) OVER w AS senkou_a,
       lag(senkou_b_raw, 26) OVER w AS senkou_b,
       lead(close, 26) OVER w AS chikou
FROM mids
WINDOW w AS {_BAR_OVER}
"""


# ---------------------------------------------------------------------------
# Classic floor-trader pivot points (daily, from previous day's OHLC)
# ---------------------------------------------------------------------------

def q_pivot_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily pivot levels from the PREVIOUS session: P = (H+L+C)/3,
    R1 = 2P−L, S1 = 2P−H, R2 = P+(H−L), S2 = P−(H−L), all over
    yesterday's daily OHLC (lag at day grain). Day bars aggregate
    straight from the hourly bars (the incremental-rollup path); the
    first session of each key has no levels (NULL lag)."""
    bars = ohlc_bars(spark, sf_dir)
    daily = (bars.groupBy("user_id",
                          F.date_trunc("day", F.col("bar_ts")).alias("day_ts"))
             .agg(F.max("high").alias("high"), F.min("low").alias("low"),
                  F.max_by("close", F.col("bar_ts")).alias("close")))
    w = W.partitionBy("user_id").orderBy("day_ts")
    ph, pl, pc = (F.lag(c).over(w) for c in ("high", "low", "close"))
    p = (ph + pl + pc) / 3.0
    return (daily
            .withColumn("pivot", p)
            .withColumn("r1", 2.0 * p - pl)
            .withColumn("s1", 2.0 * p - ph)
            .withColumn("r2", p + (ph - pl))
            .withColumn("s2", p - (ph - pl))
            .select("user_id", "day_ts", "close",
                    "pivot", "r1", "s1", "r2", "s2"))


_PIVOT_SQL = f"""
WITH {BARS_CTE},
daily AS (
  SELECT user_id, CAST(date_trunc('day', bar_ts) AS TIMESTAMP) AS day_ts,
         MAX(high) AS high, MIN(low) AS low,
         last(close ORDER BY bar_ts) AS close
  FROM bars GROUP BY user_id, date_trunc('day', bar_ts)),
lagged AS (
  SELECT user_id, day_ts, close,
         lag(high) OVER w AS ph, lag(low) OVER w AS pl,
         lag(close) OVER w AS pc
  FROM daily
  WINDOW w AS (PARTITION BY user_id ORDER BY day_ts))
SELECT user_id, day_ts, close,
       (ph + pl + pc) / 3.0 AS pivot,
       2.0 * ((ph + pl + pc) / 3.0) - pl AS r1,
       2.0 * ((ph + pl + pc) / 3.0) - ph AS s1,
       (ph + pl + pc) / 3.0 + (ph - pl) AS r2,
       (ph + pl + pc) / 3.0 - (ph - pl) AS s2
FROM lagged
"""


# ---------------------------------------------------------------------------
# Parabolic SAR (Wilder): 4-field branching state machine
# ---------------------------------------------------------------------------

def q_parabolic_sar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilder's parabolic stop-and-reverse — the most state-heavy
    indicator in the classical set: per key it carries (trend, sar,
    ep, af) where every bar BRANCHES (reversal / new-extreme /
    carry), af accelerates by 0.02 to a 0.2 cap, and the SAR clamps
    against the previous two bars' extremes. No window algebra
    expresses it; it runs in the same partition-wide Arrow-kernel
    shape as the ewm family (one exchange, state carried across
    batches, key-change reset). The DuckDB oracle replays the
    identical recurrence as a recursive CTE — same IEEE ops in the
    same order, so sar, trend, and every branch decision are
    bit-identical.

    Initialization (documented convention): the second bar seeds
    trend = sign(close₁ ≥ close₀), sar = the prior bar's opposite
    extreme, ep = this bar's own extreme, af = 0.02; the first bar
    emits NULL."""
    bars = ohlc_bars(spark, sf_dir)
    staged = (bars.select("user_id", "bar_ts", "high", "low", "close")
              .repartition("user_id")
              .sortWithinPartitions("user_id", "bar_ts"))
    return keyed_scan(staged, _sar_step, init=None,
                      cols=["high", "low", "close"],
                      schema="user_id bigint, bar_ts timestamp, "
                             "close double, sar double, trend int")


def _sar_step(st, cols):
    """Parabolic SAR step over one key's bars. State: None before the
    key's first bar, else (i, trend, sar, ep, af, p1_low, p2_low,
    p1_high, p2_high, p1_close). The first bar emits NaN sar and trend
    (NULL after Arrow)."""
    n = len(cols["close"])
    out_sar = np.full(n, np.nan)
    out_trend = np.full(n, np.nan)
    bars = zip(cols["high"].tolist(), cols["low"].tolist(),
               cols["close"].tolist())
    for r, (hi, lo, cl) in enumerate(bars):
        if st is None:
            st = (1, None, None, None, None, lo, None, hi, None, cl)
            continue
        (i, trend, sar, ep, af,
         p1_low, p2_low, p1_high, p2_high, p1_close) = st
        if i == 1:
            trend = 1 if cl >= p1_close else -1
            sar = p1_low if trend == 1 else p1_high
            ep = hi if trend == 1 else lo
            af = 0.02
        else:
            sar0 = sar + af * (ep - sar)
            if trend == 1:
                sar1 = min(sar0, p1_low, p2_low)
                rev = lo < sar1
            else:
                sar1 = max(sar0, p1_high, p2_high)
                rev = hi > sar1
            if rev:
                sar = ep
                ep = lo if trend == 1 else hi
                trend = -trend
                af = 0.02
            else:
                sar = sar1
                if trend == 1 and hi > ep:
                    ep, af = hi, min(af + 0.02, 0.2)
                elif trend == -1 and lo < ep:
                    ep, af = lo, min(af + 0.02, 0.2)
        out_sar[r] = sar
        out_trend[r] = trend
        st = (i + 1, trend, sar, ep, af, lo, p1_low, hi, p1_high, cl)
    return st, {"sar": out_sar, "trend": out_trend}


_SAR_SQL = f"""
WITH RECURSIVE {BARS_CTE},
s AS (
  SELECT user_id, bar_ts, high, low, close,
         row_number() OVER w AS rn,
         lag(low) OVER w AS p1_low, lag(low, 2) OVER w AS p2_low,
         lag(high) OVER w AS p1_high, lag(high, 2) OVER w AS p2_high,
         lag(close) OVER w AS p1_close
  FROM bars
  WINDOW w AS {_BAR_OVER}),
r AS (
  SELECT user_id, bar_ts, rn,
         CASE WHEN close >= p1_close THEN 1 ELSE -1 END AS trend,
         CASE WHEN close >= p1_close THEN p1_low ELSE p1_high END AS sar,
         CASE WHEN close >= p1_close THEN high ELSE low END AS ep,
         CAST(0.02 AS DOUBLE) AS af
  FROM s WHERE rn = 2
  UNION ALL
  SELECT t.user_id, t.bar_ts, t.rn,
         CASE WHEN t.rev THEN -t.trend ELSE t.trend END AS trend,
         CASE WHEN t.rev THEN t.ep ELSE t.sar1 END AS sar,
         CASE WHEN t.rev THEN
                (CASE WHEN t.trend = 1 THEN t.low ELSE t.high END)
              WHEN t.trend = 1 AND t.high > t.ep THEN t.high
              WHEN t.trend = -1 AND t.low < t.ep THEN t.low
              ELSE t.ep END AS ep,
         CASE WHEN t.rev THEN CAST(0.02 AS DOUBLE)
              WHEN (t.trend = 1 AND t.high > t.ep)
                OR (t.trend = -1 AND t.low < t.ep)
                THEN least(t.af + 0.02, 0.2)
              ELSE t.af END AS af
  FROM (
    SELECT q.user_id, q.bar_ts, q.rn, q.high, q.low,
           r.trend, r.ep, r.af,
           CASE WHEN r.trend = 1
                THEN least(r.sar + r.af * (r.ep - r.sar),
                           q.p1_low, q.p2_low)
                ELSE greatest(r.sar + r.af * (r.ep - r.sar),
                              q.p1_high, q.p2_high) END AS sar1,
           CASE WHEN r.trend = 1
                THEN q.low < least(r.sar + r.af * (r.ep - r.sar),
                                   q.p1_low, q.p2_low)
                ELSE q.high > greatest(r.sar + r.af * (r.ep - r.sar),
                                       q.p1_high, q.p2_high) END AS rev
    FROM r JOIN s q ON q.user_id = r.user_id AND q.rn = r.rn + 1) t)
SELECT b.user_id, b.bar_ts, b.close, r.sar, CAST(r.trend AS INTEGER) AS trend
FROM s b LEFT JOIN r ON r.user_id = b.user_id AND r.rn = b.rn
"""


# ---------------------------------------------------------------------------
# Supertrend (10, 3): recursive band clamp over Wilder ATR
# ---------------------------------------------------------------------------

def q_supertrend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supertrend(10, 3): basic bands = midpoint ± 3·ATR(10, Wilder),
    then the band RATCHET — the final upper band only falls (unless
    the previous close broke above it), the final lower band only
    rises (unless broken below) — and the trend flips when close
    crosses the active band. Like parabolic SAR this is a coupled
    recursive state machine (atr, final_ub, final_lb, trend), run as
    ONE partition-wide Arrow-kernel pass; the oracle replays the same
    recurrence as a recursive CTE (ATR recursion folded into the same
    state row), IEEE-identical.

    Convention (documented): bar 1 seeds atr = high−low, bands from
    it, trend = +1 iff close > final_ub else −1."""
    bars = ohlc_bars(spark, sf_dir)
    staged = (bars.select("user_id", "bar_ts", "high", "low", "close")
              .repartition("user_id")
              .sortWithinPartitions("user_id", "bar_ts"))
    return keyed_scan(staged, _supertrend_step(1.0 / 10.0, 3.0),
                      init=_SUPERTREND_INIT, cols=["high", "low", "close"],
                      schema="user_id bigint, bar_ts timestamp, "
                             "close double, supertrend double, trend int")


#: Supertrend step state (atr, final upper band, final lower band,
#: trend, previous close, started) before a key's first bar.
_SUPERTREND_INIT = (math.nan, math.nan, math.nan, 0, math.nan, False)


def _supertrend_step(alpha: float, mult: float):
    """Supertrend step over one key's (high, low, close) bars: the first
    bar seeds atr = high − low, the bands from it and trend = +1 iff
    close > final_ub; later bars smooth the true range into atr (Wilder,
    `alpha`), ratchet the bands and flip the trend when close crosses
    the active band. Emits supertrend (the active band) and trend. The
    stream's supertrend_per_key feeds ticks as bars with
    high = low = close."""

    def step(state, cols):
        atr, fub, flb, trend, pc, started = state
        n = len(cols["close"])
        out_st = np.empty(n, dtype=np.float64)
        out_tr = np.empty(n, dtype=np.int32)
        bars = zip(cols["high"].tolist(), cols["low"].tolist(),
                   cols["close"].tolist())
        for i, (hi, lo, cl) in enumerate(bars):
            if started:
                tr = max(hi - lo, abs(hi - pc), abs(lo - pc))
                atr = atr + alpha * (tr - atr)
                bub = (hi + lo) / 2.0 + mult * atr
                blb = (hi + lo) / 2.0 - mult * atr
                fub = bub if (bub < fub or pc > fub) else fub
                flb = blb if (blb > flb or pc < flb) else flb
                if trend == -1 and cl > fub:
                    trend = 1
                elif trend == 1 and cl < flb:
                    trend = -1
            else:
                atr = hi - lo
                fub = (hi + lo) / 2.0 + mult * atr
                flb = (hi + lo) / 2.0 - mult * atr
                trend = 1 if cl > fub else -1
                started = True
            pc = cl
            out_st[i] = flb if trend == 1 else fub
            out_tr[i] = trend
        return (atr, fub, flb, trend, pc, started), {"supertrend": out_st,
                                                     "trend": out_tr}

    return step


_SUPERTREND_SQL = f"""
WITH RECURSIVE {BARS_CTE},
s AS (
  SELECT user_id, bar_ts, high, low, close,
         row_number() OVER w AS rn,
         lag(close) OVER w AS p1_close
  FROM bars
  WINDOW w AS {_BAR_OVER}),
r AS (
  SELECT user_id, bar_ts, rn, close,
         high - low AS atr,
         (high + low) / 2.0 + 3.0 * (high - low) AS fub,
         (high + low) / 2.0 - 3.0 * (high - low) AS flb,
         CASE WHEN close > (high + low) / 2.0 + 3.0 * (high - low)
              THEN 1 ELSE -1 END AS trend
  FROM s WHERE rn = 1
  UNION ALL
  SELECT t.user_id, t.bar_ts, t.rn, t.close, t.atr, t.fub, t.flb,
         CASE WHEN t.trend_p = -1 AND t.close > t.fub THEN 1
              WHEN t.trend_p = 1 AND t.close < t.flb THEN -1
              ELSE t.trend_p END AS trend
  FROM (
    SELECT q.user_id, q.bar_ts, q.rn, q.close, r.trend AS trend_p,
           u.atr,
           CASE WHEN (q.high + q.low) / 2.0 + 3.0 * u.atr < r.fub
                  OR q.p1_close > r.fub
                THEN (q.high + q.low) / 2.0 + 3.0 * u.atr
                ELSE r.fub END AS fub,
           CASE WHEN (q.high + q.low) / 2.0 - 3.0 * u.atr > r.flb
                  OR q.p1_close < r.flb
                THEN (q.high + q.low) / 2.0 - 3.0 * u.atr
                ELSE r.flb END AS flb
    FROM r
    JOIN s q ON q.user_id = r.user_id AND q.rn = r.rn + 1
    CROSS JOIN LATERAL (SELECT r.atr + (1.0/10.0)
             * (greatest(q.high - q.low, abs(q.high - q.p1_close),
                         abs(q.low - q.p1_close)) - r.atr) AS atr) u) t)
SELECT user_id, bar_ts, close,
       CASE WHEN trend = 1 THEN flb ELSE fub END AS supertrend,
       CAST(trend AS INTEGER) AS trend
FROM r
"""


# ---------------------------------------------------------------------------
# Donchian channels(20) and chandelier exit(22, 3)
# ---------------------------------------------------------------------------

def q_donchian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Donchian channels(20): rolling 20-bar extremes of high/low and
    their midpoint, NULL until the window fills — the turtle-trading
    band pair, window-pure."""
    bars = ohlc_bars(spark, sf_dir)
    f20 = bar_window().rowsBetween(-19, 0)
    full = F.count("close").over(f20) == 20
    ub = F.when(full, F.max("high").over(f20))
    lb = F.when(full, F.min("low").over(f20))
    return (bars.withColumn("dc_up", ub).withColumn("dc_dn", lb)
            .withColumn("dc_mid", (F.col("dc_up") + F.col("dc_dn")) / 2.0)
            .select("user_id", "bar_ts", "close", "dc_up", "dc_dn", "dc_mid"))


_DONCHIAN_SQL = f"""
WITH {BARS_CTE}
SELECT user_id, bar_ts, close,
       CASE WHEN COUNT(close) OVER w20 = 20
            THEN MAX(high) OVER w20 END AS dc_up,
       CASE WHEN COUNT(close) OVER w20 = 20
            THEN MIN(low) OVER w20 END AS dc_dn,
       (CASE WHEN COUNT(close) OVER w20 = 20
             THEN MAX(high) OVER w20 END
        + CASE WHEN COUNT(close) OVER w20 = 20
               THEN MIN(low) OVER w20 END) / 2.0 AS dc_mid
FROM bars
WINDOW w20 AS (PARTITION BY user_id ORDER BY bar_ts
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
"""


def q_chandelier_exit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chandelier exit(22, 3): long stop = HH22 − 3·ATR(22, Wilder),
    short stop = LL22 + 3·ATR(22) — trailing-stop levels hanging off
    the rolling extremes; extrema are window-pure, the ATR recursion
    rides the shared ewm kernel over the already-sorted layout."""
    bars = _with_tr(ohlc_bars(spark, sf_dir))
    bars = _apply_ewm(bars, ["bar_ts"], {"atr_22": ("tr", 1.0 / 22.0)},
                      assume_sorted=True)
    f22 = bar_window().rowsBetween(-21, 0)
    full = F.count("close").over(f22) == 22
    hh = F.when(full, F.max("high").over(f22))
    ll = F.when(full, F.min("low").over(f22))
    return (bars
            .withColumn("long_exit", hh - 3.0 * F.col("atr_22"))
            .withColumn("short_exit", ll + 3.0 * F.col("atr_22"))
            .select("user_id", "bar_ts", "close",
                    "long_exit", "short_exit"))


_CHANDELIER_SQL = f"""
WITH {BARS_CTE},
{_TR_CTE},
a AS (
  SELECT user_id, bar_ts, high, low, close,
         {_ewm_sql('tr', '1.0/22.0', _ORACLE_BAR_WINDOW)} AS atr_22
  FROM trc)
SELECT user_id, bar_ts, close,
       CASE WHEN COUNT(close) OVER w22 = 22
            THEN MAX(high) OVER w22 END - 3.0 * atr_22 AS long_exit,
       CASE WHEN COUNT(close) OVER w22 = 22
            THEN MIN(low) OVER w22 END + 3.0 * atr_22 AS short_exit
FROM a
WINDOW w22 AS (PARTITION BY user_id ORDER BY bar_ts
               ROWS BETWEEN 21 PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# KAMA(10, 2, 30): adaptive-alpha recurrence
# ---------------------------------------------------------------------------

def q_kama(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaufman adaptive moving average — the recurrence whose
    smoothing coefficient VARIES per row: efficiency ratio ER =
    |close − close₋₁₀| / Σ₁₀|Δclose| (0 on flat windows), smoothing
    constant sc = (ER·(2/3 − 2/31) + 2/31)², then
    kama := kama + sc·(close − kama), seeded with close at each key's
    first full window. The fixed-alpha ewm kernel can't express this;
    a dedicated step (`_kama_step`) carries (kama, started) while
    sc arrives as a PRECOMPUTED column from the same decimal-exact
    window stage the oracle uses (Σ|Δ| is floor-quantized to integer
    1e-9 ticks so the denominator is an exact BIGINT on both
    engines). Oracle = recursive CTE over the identical sc column."""
    bars = ohlc_bars(spark, sf_dir)
    w = bar_window()
    f10 = w.rowsBetween(-9, 0)
    delta = F.col("close") - F.lag("close").over(w)
    bars = bars.withColumn(
        "absd_i", F.floor(F.abs(delta) * 1e9).cast("long"))
    den = F.when(F.count("absd_i").over(f10) == 10,
                 F.sum("absd_i").over(f10))
    num = F.abs(F.col("close") - F.lag("close", 10).over(w))
    er = F.coalesce(num * 1e9 / F.nullif(den.cast("double"), F.lit(0.0)),
                    F.when(den.isNotNull(), F.lit(0.0)))
    # Python float literals, NOT F.expr("2.0/...") — Spark SQL parses
    # the literal 2.0 as DECIMAL(2,1), so the division would round to
    # 6 digits while DuckDB evaluates the same text as DOUBLE.
    fast, slow = 2.0 / (2.0 + 1.0), 2.0 / (30.0 + 1.0)
    scb = er * F.lit(fast - slow) + F.lit(slow)
    bars = bars.withColumn("sc", scb * scb)
    staged = (bars.select("user_id", "bar_ts", "close", "sc")
              .repartition("user_id")
              .sortWithinPartitions("user_id", "bar_ts"))
    res = keyed_scan(staged, _kama_step, init=(math.nan, False),
                     cols=["close", "sc"],
                     schema="user_id bigint, bar_ts timestamp, "
                            "close double, kama double")
    return res.withColumn("kama", F.nanvl("kama", F.lit(None)))


def _kama_step(state, cols):
    """KAMA step: ``kama := kama + sc·(close − kama)``, seeded with
    close at the first row whose sc is defined; rows with NaN sc carry
    kama (NaN before the seed). State: (kama, started)."""
    acc, started = state
    out = np.empty(len(cols["close"]), dtype=np.float64)
    rows = zip(cols["close"].tolist(), cols["sc"].tolist())
    for r, (cl, sc) in enumerate(rows):
        if math.isnan(sc):
            out[r] = acc if started else math.nan
            continue
        if started:
            acc = acc + sc * (cl - acc)
        else:
            acc, started = cl, True
        out[r] = acc
    return (acc, started), {"kama": out}


_KAMA_SQL = f"""
WITH RECURSIVE {BARS_CTE},
d AS (
  SELECT user_id, bar_ts, close,
         row_number() OVER w AS rn,
         CAST(floor(abs(close - lag(close) OVER w) * 1e9) AS BIGINT)
           AS absd_i,
         abs(close - lag(close, 10) OVER w) AS num
  FROM bars
  WINDOW w AS {_BAR_OVER}),
s AS (
  SELECT user_id, bar_ts, close, rn,
         CASE WHEN cnt = 10 THEN
           COALESCE(num * 1e9 / nullif(CAST(den AS DOUBLE), 0.0), 0.0)
         END AS er
  FROM (
    SELECT *, COUNT(absd_i) OVER w10 AS cnt, SUM(absd_i) OVER w10 AS den
    FROM d
    WINDOW w10 AS (PARTITION BY user_id ORDER BY bar_ts
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))),
c AS (
  SELECT user_id, bar_ts, close, rn,
         (er * (2.0/(2.0+1.0) - 2.0/(30.0+1.0)) + 2.0/(30.0+1.0))
         * (er * (2.0/(2.0+1.0) - 2.0/(30.0+1.0)) + 2.0/(30.0+1.0)) AS sc
  FROM s),
r AS (
  SELECT user_id, bar_ts, rn, close AS kama
  FROM c WHERE rn = 11
  UNION ALL
  SELECT q.user_id, q.bar_ts, q.rn,
         r.kama + q.sc * (q.close - r.kama) AS kama
  FROM r JOIN c q ON q.user_id = r.user_id AND q.rn = r.rn + 1)
SELECT b.user_id, b.bar_ts, b.close, r.kama
FROM c b LEFT JOIN r ON r.user_id = b.user_id AND r.rn = b.rn
"""


# ---------------------------------------------------------------------------
# Chained EMAs (TRIX / mass index): the shared ewm step, one level per spec
# ---------------------------------------------------------------------------

def _chained_emas(src: str, alpha: float, depth: int):
    """`depth` stacked EMAs of `src` as one :func:`ewm._ewm_step`:
    level i smooths level i-1 (outputs ``_e0`` … ``_e{depth-1}``)."""
    return _ewm_step([(f"_e{i}", f"_e{i - 1}" if i else src, alpha)
                      for i in range(depth)])


def _trix_step(alpha: float):
    """Triple EMA plus its 1-row percent change, lag taken in-step
    from the carried third level (NaN on a key's first row)."""
    emas = _chained_emas("close", alpha, 3)

    def step(state, cols):
        prev3 = state[0][2]
        state, out = emas(state, cols)
        e3 = out["_e2"]
        p3 = np.r_[prev3, e3[:-1]]
        with np.errstate(divide="ignore", invalid="ignore"):
            trix = np.where(~np.isnan(p3) & (p3 != 0.0),
                            100.0 * (e3 / p3 - 1.0), np.nan)
        return state, {"ema3": e3, "trix": trix}

    return step


def _mass_step(alpha: float):
    """EMA(range) over EMA(EMA(range)); NaN where the denominator is 0."""
    emas = _chained_emas("rng", alpha, 2)

    def step(state, cols):
        state, out = emas(state, cols)
        e1, e2 = out["_e0"], out["_e1"]
        with np.errstate(divide="ignore", invalid="ignore"):
            ratio = np.where(e2 != 0.0, e1 / e2, np.nan)
        return state, {"ratio": ratio}

    return step


# ---------------------------------------------------------------------------
# TRIX(15): triple-EMA momentum (one kernel pass, lag emitted in-kernel)
# ---------------------------------------------------------------------------

def q_trix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIX(15): 1-bar percent change of the TRIPLE ema(span 15) of
    close. All three chained recurrences AND the lag ride ONE kernel
    pass (the lag is emitted from the same step — taking
    it as a Window after the kernel would force a second exchange,
    the dashboard_snapshot lesson). Oracle = three chained
    NULL-skipping list-fold CTEs + lag."""
    bars = ohlc_bars(spark, sf_dir)
    staged = (bars.select("user_id", "bar_ts", "close")
              .repartition("user_id")
              .sortWithinPartitions("user_id", "bar_ts"))
    res = keyed_scan(staged, _trix_step(2.0 / (15.0 + 1.0)),
                     init=_ewm_init(3), cols=["close"],
                     schema=f"{_ddl(staged)}, ema3 double, trix double")
    return (res.withColumn("ema3", F.nanvl("ema3", F.lit(None)))
            .withColumn("trix", F.nanvl("trix", F.lit(None))))


_TRIX_SQL = f"""
WITH {BARS_CTE},
e1 AS (
  SELECT user_id, bar_ts, close,
         {_ewm_sql('close', '2.0/(15.0+1.0)', _ORACLE_BAR_WINDOW)} AS ema1
  FROM bars),
e2 AS (
  SELECT user_id, bar_ts, close,
         {_ewm_sql('ema1', '2.0/(15.0+1.0)', _ORACLE_BAR_WINDOW)} AS ema2
  FROM e1),
e3 AS (
  SELECT user_id, bar_ts, close,
         {_ewm_sql('ema2', '2.0/(15.0+1.0)', _ORACLE_BAR_WINDOW)} AS ema3
  FROM e2)
SELECT user_id, bar_ts, close, ema3,
       100.0 * (ema3 / nullif(lag(ema3) OVER w, 0.0) - 1.0) AS trix
FROM e3
WINDOW w AS {_BAR_OVER}
"""


# ---------------------------------------------------------------------------
# Vortex indicator(14)
# ---------------------------------------------------------------------------

def q_vortex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vortex(14): VI+ = Σ₁₄|high − prev low| / Σ₁₄TR and VI− =
    Σ₁₄|low − prev high| / Σ₁₄TR, NULL until 14 movement bars exist.
    Decimal-exact rolling sums; window-pure over the staged bars."""
    bars = _with_tr(ohlc_bars(spark, sf_dir))
    w = bar_window()
    vmp = F.abs(F.col("high") - F.lag("low").over(w))
    vmm = F.abs(F.col("low") - F.lag("high").over(w))
    bars = bars.withColumn("vmp", vmp).withColumn("vmm", vmm)
    f14 = w.rowsBetween(-13, 0)

    def s14(col):
        return F.when(F.count(col).over(f14) == 14,
                      F.sum(col.cast(DEC)).over(f14).cast("double"))

    tr14 = s14(F.col("tr"))
    return (bars
            .withColumn("vi_plus", s14(F.col("vmp"))
                        / F.nullif(tr14, F.lit(0.0)))
            .withColumn("vi_minus", s14(F.col("vmm"))
                        / F.nullif(tr14, F.lit(0.0)))
            .select("user_id", "bar_ts", "close", "vi_plus", "vi_minus"))


def _s14_sql(expr: str) -> str:
    f = ("OVER (PARTITION BY user_id ORDER BY bar_ts "
         "ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)")
    return (f"CASE WHEN COUNT({expr}) {f} = 14 THEN "
            f"CAST(SUM(CAST({expr} AS DECIMAL(25,6))) {f} AS DOUBLE) END")


_VORTEX_SQL = f"""
WITH {BARS_CTE},
{_TR_CTE},
m AS (
  SELECT user_id, bar_ts, close, tr,
         abs(high - lag(low) OVER w) AS vmp,
         abs(low - lag(high) OVER w) AS vmm
  FROM trc
  WINDOW w AS {_BAR_OVER})
SELECT user_id, bar_ts, close,
       {_s14_sql('vmp')} / nullif({_s14_sql('tr')}, 0.0) AS vi_plus,
       {_s14_sql('vmm')} / nullif({_s14_sql('tr')}, 0.0) AS vi_minus
FROM m
"""


# ---------------------------------------------------------------------------
# Aroon(25): windowed argmax via struct-max (no nested window)
# ---------------------------------------------------------------------------

def q_aroon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aroon(25): 100·(n − bars-since-extreme)/n for the rolling
    25-bar highest high / lowest low. "Bars since" is a windowed
    ARGMAX — expressed as max(struct(value, rn)).rn so ties resolve
    to the most recent bar identically on both engines (lexicographic
    struct comparison; the low side negates so its tie rule matches).
    NULL until the window fills."""
    bars = ohlc_bars(spark, sf_dir)
    w = bar_window()
    bars = bars.withColumn("rn", F.row_number().over(w))
    f25 = w.rowsBetween(-24, 0)
    full = F.count("rn").over(f25) == 25
    hh_rn = F.max(F.struct(F.col("high"), F.col("rn"))).over(f25)["rn"]
    ll_rn = F.max(F.struct(-F.col("low"), F.col("rn"))).over(f25)["rn"]
    up = F.when(full, 100.0 * (25.0 - (F.col("rn") - hh_rn)) / 25.0)
    dn = F.when(full, 100.0 * (25.0 - (F.col("rn") - ll_rn)) / 25.0)
    return (bars.withColumn("aroon_up", up).withColumn("aroon_down", dn)
            .select("user_id", "bar_ts", "close", "aroon_up", "aroon_down"))


_AROON_SQL = f"""
WITH {BARS_CTE},
r AS (
  SELECT user_id, bar_ts, close, high, low,
         row_number() OVER w AS rn
  FROM bars
  WINDOW w AS {_BAR_OVER})
SELECT user_id, bar_ts, close,
       CASE WHEN COUNT(rn) OVER w25 = 25 THEN
         100.0 * (25.0 - (rn - (MAX({{'v': high, 'rn': rn}}) OVER w25).rn))
           / 25.0 END AS aroon_up,
       CASE WHEN COUNT(rn) OVER w25 = 25 THEN
         100.0 * (25.0 - (rn - (MAX({{'v': -low, 'rn': rn}}) OVER w25).rn))
           / 25.0 END AS aroon_down
FROM r
WINDOW w25 AS (PARTITION BY user_id ORDER BY bar_ts
               ROWS BETWEEN 24 PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# Force index(13), Elder ray(13), ease of movement(14)
# ---------------------------------------------------------------------------

def q_force_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Force index(13): ewm(span 13) of (close − prev close)·volume —
    price change weighted by participation; the raw first bar is NULL
    and the kernel's NULL-skip carries the seed to the first real
    change, matching the oracle fold."""
    bars = ohlc_bars(spark, sf_dir)
    w = bar_window()
    raw = (F.col("close") - F.lag("close").over(w)) * F.col("volume")
    bars = bars.withColumn("fi_raw", raw)
    bars = _apply_ewm(bars, ["bar_ts"],
                      {"force_index": ("fi_raw", 2.0 / (13.0 + 1.0))},
                      assume_sorted=True)
    return bars.select("user_id", "bar_ts", "close", "fi_raw", "force_index")


_FORCE_SQL = f"""
WITH {BARS_CTE},
r AS (
  SELECT user_id, bar_ts, close,
         (close - lag(close) OVER w) * volume AS fi_raw
  FROM bars
  WINDOW w AS {_BAR_OVER})
SELECT user_id, bar_ts, close, fi_raw,
       {_ewm_sql('fi_raw', '2.0/(13.0+1.0)', _ORACLE_BAR_WINDOW)}
         AS force_index
FROM r
"""


def q_elder_ray(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elder ray(13): bull power = high − EMA13(close), bear power =
    low − EMA13(close) — who controls the bar relative to consensus
    value. One kernel pass + row-local arithmetic."""
    bars = ohlc_bars(spark, sf_dir)
    bars = _apply_ewm(bars, ["bar_ts"],
                      {"ema_13": ("close", 2.0 / (13.0 + 1.0))},
                      assume_sorted=False)
    return (bars
            .withColumn("bull_power", F.col("high") - F.col("ema_13"))
            .withColumn("bear_power", F.col("low") - F.col("ema_13"))
            .select("user_id", "bar_ts", "close", "ema_13",
                    "bull_power", "bear_power"))


_ELDER_SQL = f"""
WITH {BARS_CTE},
e AS (
  SELECT user_id, bar_ts, close, high, low,
         {_ewm_sql('close', '2.0/(13.0+1.0)', _ORACLE_BAR_WINDOW)} AS ema_13
  FROM bars)
SELECT user_id, bar_ts, close, ema_13,
       high - ema_13 AS bull_power,
       low - ema_13 AS bear_power
FROM e
"""


def q_ease_of_movement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ease of movement(14): midpoint displacement over the volume
    box ratio, 14-bar decimal-exact mean. Flat bars (high = low) have
    NULL raw EMV and are skipped by the mean's NULL-aware count gate,
    identically on both engines."""
    bars = ohlc_bars(spark, sf_dir)
    w = bar_window()
    mid = (F.col("high") + F.col("low")) / 2.0
    dm = mid - F.lag(mid).over(w)
    br = (F.col("volume") / 1e8) / F.nullif(
        F.col("high") - F.col("low"), F.lit(0.0))
    bars = bars.withColumn("emv_raw", dm / br)
    return (bars.withColumn(
        "emv_14", _rolling_mean(F.col("emv_raw"), w, 14))
        .select("user_id", "bar_ts", "close", "emv_14"))


_EOM_SQL = f"""
WITH {BARS_CTE},
r AS (
  SELECT user_id, bar_ts, close,
         ((high + low) / 2.0 - lag((high + low) / 2.0) OVER w)
           / ((volume / 1e8) / nullif(high - low, 0.0)) AS emv_raw
  FROM bars
  WINDOW w AS {_BAR_OVER})
SELECT user_id, bar_ts, close,
       {_rolling_mean_sql('emv_raw', 14, _BAR_OVER)} AS emv_14
FROM r
"""


# ---------------------------------------------------------------------------
# ROC(12) — rate of change
# ---------------------------------------------------------------------------

def q_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC(12) = 100·(close/close₁₂ − 1), the plain momentum
    percentage (standard published indicator; completes the
    stochastic/Williams momentum family on the same hourly-bar
    surface). NULL until 12 prior bars exist; NULL on a zero lag
    close (nullif — non-ANSI division contract shared with RSI).
    Row-local after the bar window's lag — no math that could
    diverge across engines."""
    bars = ohlc_bars(spark, sf_dir)
    lag12 = F.lag("close", 12).over(bar_window())
    roc = F.lit(100.0) * (F.col("close") / F.nullif(lag12, F.lit(0.0))
                          - F.lit(1.0))
    return (bars.withColumn("roc_12", roc)
            .select("user_id", "bar_ts", "close", "roc_12"))


_ROC_SQL = f"""
WITH {BARS_CTE}
SELECT user_id, bar_ts, close,
       100.0 * (close / nullif(lag(close, 12) OVER {_BAR_OVER}, 0.0)
                - 1.0) AS roc_12
FROM bars
"""


# ---------------------------------------------------------------------------
# Ultimate Oscillator (7, 14, 28)
# ---------------------------------------------------------------------------

def _rolling_dec_sum(col, n: int):
    """Rolling n-bar sum through the decimal-exact quantization (the
    _rolling_mean discipline): window SUM order differs between
    Spark's running accumulation and DuckDB's segment-tree sums, so
    doubles would drift — DECIMAL(25,6) terms make the sum
    order-free. NULL until the frame holds n non-null terms."""
    frame = bar_window().rowsBetween(-(n - 1), 0)
    return F.when(F.count(col).over(frame) == n,
                  F.sum(col.cast(DEC)).over(frame).cast("double"))


def _rolling_dec_sum_sql(expr: str, n: int) -> str:
    frame = (f"OVER (PARTITION BY user_id ORDER BY bar_ts "
             f"ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW)")
    return (f"CASE WHEN COUNT({expr}) {frame} = {n} THEN "
            f"CAST(SUM(CAST({expr} AS DECIMAL(25,6))) {frame} AS DOUBLE)"
            f" END")


def q_ultimate_oscillator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ultimate Oscillator (Williams 1976, public formula): buying
    pressure BP = close − min(low, prev_close), true range
    TR = max(high, prev_close) − min(low, prev_close);
    UO = 100·(4·avg₇ + 2·avg₁₄ + avg₂₈)/7 with
    avgₙ = ΣBPₙ/ΣTRₙ. First bar has no prev_close → NULL BP/TR, so
    every rolling sum starts counting at bar 2 and UO is NULL until
    28 complete terms exist (full-window contract shared with SMA).

    Exactness: the three BP/TR sum pairs go through the
    decimal-exact rolling sum; the weighted blend and division are
    identical double expressions on both engines; ΣTR = 0 → NULL
    via nullif. Plan: the shared bar exchange, then pure window
    stages — no extra shuffle."""
    bars = ohlc_bars(spark, sf_dir)
    w = bar_window()
    pc = F.lag("close").over(w)
    bars = (bars
            .withColumn("bp", F.col("close") - F.least(F.col("low"), pc))
            .withColumn("tr_uo",
                        F.greatest(F.col("high"), pc)
                        - F.least(F.col("low"), pc)))
    avg = {}
    for n in (7, 14, 28):
        avg[n] = (_rolling_dec_sum(F.col("bp"), n)
                  / F.nullif(_rolling_dec_sum(F.col("tr_uo"), n),
                             F.lit(0.0)))
    uo = (F.lit(100.0)
          * (F.lit(4.0) * avg[7] + F.lit(2.0) * avg[14] + avg[28])
          / F.lit(7.0))
    return (bars.withColumn("uo", uo)
            .select("user_id", "bar_ts", "close", "uo"))


def _uo_sql() -> str:
    def avg(n: int) -> str:
        return (f"({_rolling_dec_sum_sql('bp', n)})"
                f" / nullif(({_rolling_dec_sum_sql('tr_uo', n)}), 0.0)")
    return f"""
WITH {BARS_CTE},
uop AS (
  SELECT user_id, bar_ts, high, low, close,
         close - least(low, lag(close) OVER w) AS bp,
         greatest(high, lag(close) OVER w)
           - least(low, lag(close) OVER w) AS tr_uo
  FROM bars
  WINDOW w AS {_BAR_OVER})
SELECT user_id, bar_ts, close,
       100.0 * (4.0 * {avg(7)} + 2.0 * {avg(14)} + {avg(28)})
         / 7.0 AS uo
FROM uop
"""


# ---------------------------------------------------------------------------
# Chaikin oscillator (EMA(3) − EMA(10) of the accumulation/distribution line)
# ---------------------------------------------------------------------------

def q_chaikin_oscillator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chaikin oscillator: ADL_t = running Σ mfv (the CMF money-flow
    volume accumulated since inception), CO = EMA(ADL, 3) −
    EMA(ADL, 10) — the momentum-of-accumulation signal that pairs
    with CMF's bounded ratio. Flat bars (high == low) contribute a
    NULL mfv, skipped by the running sum in both engines (the q_cmf
    convention); ADL is NULL until the key's first non-flat bar, and
    the ewm kernels carry skip-NaN semantics over those rows.

    One key-ordered bar layout serves the cumulative window AND the
    two-alpha kernel pass (`_apply_ewm` assume_sorted) — a single
    exchange for the whole chain."""
    bars = ohlc_bars(spark, sf_dir)
    mfm = ((F.col("close") - F.col("low"))
           - (F.col("high") - F.col("close"))) \
        / F.nullif(F.col("high") - F.col("low"), F.lit(0.0))
    cum = bar_window().rowsBetween(W.unboundedPreceding, W.currentRow)
    bars = (bars.withColumn("mfv", mfm * F.col("volume"))
            .withColumn("adl", F.sum(F.col("mfv").cast(DEC)).over(cum)
                        .cast("double")))
    bars = _apply_ewm(bars, ["bar_ts"],
                      {"adl_ema3": ("adl", 2.0 / 4.0),
                       "adl_ema10": ("adl", 2.0 / 11.0)},
                      assume_sorted=True)
    return (bars.withColumn("chaikin_osc",
                            F.col("adl_ema3") - F.col("adl_ema10"))
            .select("user_id", "bar_ts", "close", "adl", "chaikin_osc"))


_CHAIKIN_OSC_SQL = f"""
WITH {BARS_CTE},
mfvc AS (
  SELECT user_id, bar_ts, close,
         ((close - low) - (high - close)) / nullif(high - low, 0.0)
           * volume AS mfv
  FROM bars),
adlc AS (
  SELECT user_id, bar_ts, close,
         CAST(SUM(CAST(mfv AS DECIMAL(25,6)))
              OVER (PARTITION BY user_id ORDER BY bar_ts
                    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS adl
  FROM mfvc)
SELECT user_id, bar_ts, close, adl,
       {_ewm_sql('adl', '2.0/4.0', _ORACLE_BAR_WINDOW)}
         - {_ewm_sql('adl', '2.0/11.0', _ORACLE_BAR_WINDOW)} AS chaikin_osc
FROM adlc
"""


# ---------------------------------------------------------------------------
# Ulcer index (root-mean-square drawdown)
# ---------------------------------------------------------------------------

def q_ulcer_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ulcer Index(14) — Peter Martin's root-mean-square percentage
    drawdown (public): pd_t = 100·(close − max₁₄close)/max₁₄close
    (≤ 0 by construction), UI = √(mean₁₄ pd²). The downside-risk
    denominator of the Martin ratio; pairs with max_drawdown (worst
    spell) and drawdown_duration (time under water) by measuring the
    DEPTH-weighted average instead. Windows-only on the bar layout;
    NULL until 14 bars. Exactness: pd is an identical double
    expression, the mean of squares goes through DECIMAL(25,6), and
    sqrt is IEEE-exact — bit-equal on both engines."""
    bars = ohlc_bars(spark, sf_dir)
    f14 = bar_window().rowsBetween(-13, 0)
    mx = F.max("close").over(f14)
    pd_ = F.lit(100.0) * (F.col("close") - mx) / mx
    bars = bars.withColumn("pd", pd_)
    ui = F.when(
        F.count("close").over(f14) == 14,
        F.sqrt(F.sum((F.col("pd") * F.col("pd")).cast(DEC)).over(f14)
               .cast("double") / F.lit(14.0)))
    return (bars.withColumn("ulcer_14", ui)
            .select("user_id", "bar_ts", "close", "pd", "ulcer_14"))


_ULCER_SQL = f"""
WITH {BARS_CTE},
p AS (
  SELECT user_id, bar_ts, close,
         100.0 * (close - MAX(close) OVER w14) / (MAX(close) OVER w14)
           AS pd
  FROM bars
  WINDOW w14 AS (PARTITION BY user_id ORDER BY bar_ts
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
SELECT user_id, bar_ts, close, pd,
       CASE WHEN COUNT(close) OVER w14 = 14 THEN
         sqrt(CAST(SUM(CAST(pd * pd AS DECIMAL(25,6))) OVER w14
                   AS DOUBLE) / 14.0)
       END AS ulcer_14
FROM p
WINDOW w14 AS (PARTITION BY user_id ORDER BY bar_ts
               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# Mass index (range-expansion reversal signal)
# ---------------------------------------------------------------------------

def q_mass_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mass Index(9, 25) — Dorsey's range-expansion signal (public):
    ratio = EMA₉(high−low) / EMA₉(EMA₉(high−low)), MI = Σ₂₅ ratio.
    Both chained EMA recurrences ride ONE kernel pass (the TRIX
    discipline — chained ewm steps in a single pass);
    the 25-term sum is a decimal-exact window AFTER the kernel, which
    costs the one extra exchange mapInPandas forces (output
    partitioning is erased — the dashboard_snapshot lesson applies,
    but the sum needs the ratio column that only exists post-kernel).
    NULL until 25 ratios exist. Oracle: two nested NULL-skipping
    ewm folds + the same gated decimal window sum."""
    bars = ohlc_bars(spark, sf_dir)
    rng = (F.col("high") - F.col("low")).alias("rng")
    staged = (bars.select("user_id", "bar_ts", "close", rng)
              .repartition("user_id")
              .sortWithinPartitions("user_id", "bar_ts"))
    fitted = keyed_scan(staged, _mass_step(2.0 / (9.0 + 1.0)),
                        init=_ewm_init(2), cols=["rng"],
                        schema=f"{_ddl(staged)}, ratio double")
    f25 = bar_window().rowsBetween(-24, 0)
    mi = F.when(
        F.count("ratio").over(f25) == 25,
        F.sum(F.col("ratio").cast(DEC)).over(f25).cast("double"))
    return (fitted
            .withColumn("ratio",
                        F.nanvl("ratio", F.lit(None).cast("double")))
            .withColumn("mass_index", mi)
            .select("user_id", "bar_ts", "close", "ratio", "mass_index"))


_MASS_INDEX_SQL = f"""
WITH {BARS_CTE},
r0 AS (SELECT user_id, bar_ts, close, high - low AS rng FROM bars),
e1 AS (
  SELECT user_id, bar_ts, close, rng,
         {_ewm_sql('rng', '2.0/(9.0+1.0)', _ORACLE_BAR_WINDOW)} AS ema1
  FROM r0),
e2 AS (
  SELECT user_id, bar_ts, close,
         ema1 / nullif({_ewm_sql('ema1', '2.0/(9.0+1.0)',
                                 _ORACLE_BAR_WINDOW)}, 0.0) AS ratio
  FROM e1)
SELECT user_id, bar_ts, close, ratio,
       CASE WHEN COUNT(ratio) OVER w25 = 25 THEN
         CAST(SUM(CAST(ratio AS DECIMAL(25,6))) OVER w25 AS DOUBLE)
       END AS mass_index
FROM e2
WINDOW w25 AS (PARTITION BY user_id ORDER BY bar_ts
               ROWS BETWEEN 24 PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# Coppock curve (weighted-momentum turn indicator)
# ---------------------------------------------------------------------------

def q_coppock_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coppock curve (Coppock 1962, public; classical monthly spans
    mapped onto the bar grid): WMA₁₀ of (ROC₁₄ + ROC₁₁), weights
    10..1. The WMA is an EXPLICIT left-fold lag chain — the ten
    momentum doubles are bit-identical on both engines and the fixed
    association order (((10·x₀ + 9·x₁) + …) keeps the float sum
    deterministic where a windowed SUM would expose engine rounding
    (the stochastic %D lesson). NULL until every term exists —
    lag-chain NULL propagation gives min_periods semantics free."""
    bars = ohlc_bars(spark, sf_dir)
    w = bar_window()

    def roc(n: int):
        prev = F.lag("close", n).over(w)
        return F.lit(100.0) * (F.col("close") - prev) / prev

    bars = bars.withColumn("mom", roc(14) + roc(11))
    terms = [F.lag("mom", i).over(w) * F.lit(float(10 - i))
             for i in range(10)]
    acc = terms[0]
    for t in terms[1:]:
        acc = acc + t
    return (bars.withColumn("coppock", acc / F.lit(55.0))
            .select("user_id", "bar_ts", "close", "mom", "coppock"))


def _coppock_sql() -> str:
    terms = " + ".join(
        f"lag(mom, {i}) OVER w * {float(10 - i)}" for i in range(10))
    # Left-fold association: SQL + is left-associative, so the text
    # "a + b + c" is (((a) + b) + c) — identical to the Spark chain.
    return f"""
WITH {BARS_CTE},
m AS (
  SELECT user_id, bar_ts, close,
         100.0 * (close - lag(close, 14) OVER w) / lag(close, 14) OVER w
         + 100.0 * (close - lag(close, 11) OVER w) / lag(close, 11) OVER w
           AS mom
  FROM bars
  WINDOW w AS {_BAR_OVER})
SELECT user_id, bar_ts, close, mom,
       ({terms}) / 55.0 AS coppock
FROM m
WINDOW w AS {_BAR_OVER}
"""


QUERIES = {
    "atr_wilder": (q_atr_wilder, _ATR_SQL),
    "chaikin_oscillator": (q_chaikin_oscillator, _CHAIKIN_OSC_SQL),
    "ulcer_index": (q_ulcer_index, _ULCER_SQL),
    "mass_index": (q_mass_index, _MASS_INDEX_SQL),
    "coppock_curve": (q_coppock_curve, _coppock_sql()),
    "kama": (q_kama, _KAMA_SQL),
    "trix": (q_trix, _TRIX_SQL),
    "vortex": (q_vortex, _VORTEX_SQL),
    "aroon": (q_aroon, _AROON_SQL),
    "force_index": (q_force_index, _FORCE_SQL),
    "elder_ray": (q_elder_ray, _ELDER_SQL),
    "ease_of_movement": (q_ease_of_movement, _EOM_SQL),
    "ichimoku": (q_ichimoku, _ICHIMOKU_SQL),
    "pivot_points": (q_pivot_points, _PIVOT_SQL),
    "parabolic_sar": (q_parabolic_sar, _SAR_SQL),
    "supertrend": (q_supertrend, _SUPERTREND_SQL),
    "donchian_channels": (q_donchian, _DONCHIAN_SQL),
    "chandelier_exit": (q_chandelier_exit, _CHANDELIER_SQL),
    "williams_r": (q_williams_r, _WILLIAMS_SQL),
    "cci": (q_cci, _CCI_SQL),
    "mfi": (q_mfi, _MFI_SQL),
    "cmf": (q_cmf, _CMF_SQL),
    "keltner_channels": (q_keltner, _KELTNER_SQL),
    "roc": (q_roc, _ROC_SQL),
    "ultimate_oscillator": (q_ultimate_oscillator, _uo_sql()),
}
