"""OHLCV bar construction and the reference's chart transforms
(SURVEY §2.E15-E17): Heikin-Ashi, Renko, Raindrop.

The reference consumes pre-barred 1-minute OHLCV from yfinance; the
idiomatic Spark expression of its data model is building the bars from
the raw tick/event stream with a tumbling time window (SURVEY §2.G5).
Batch form here (`date_trunc` + ordered first/last aggregates — a
single shuffle, map-side partial aggregation); the streaming form with
watermarks lives in streaming/bars.py.

Transforms replicate the reference AS WRITTEN (SURVEY §7 risk 2):
Heikin-Ashi's ha_open uses *raw* previous open/close and ha_high/low
use raw columns (`streamlit_app/streamlit_app.py:259-265`), simpler
than canonical HA; Renko is the (o+h+l+c)/4 midpoint with previous
close as open and the first row dropped (:281-286).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..staging import staged
from ..tables import load_table

#: DuckDB oracle CTE mirroring :func:`ohlc_bars` — reused by every
#: bar-based oracle (patterns, ewm/ADX, strategies).
BARS_CTE = """
bars AS (
  SELECT user_id,
         date_trunc('hour', ts) AS bar_ts,
         first(value ORDER BY ts, event_id) AS open,
         MAX(value) AS high,
         MIN(value) AS low,
         last(value ORDER BY ts, event_id) AS close,
         COUNT(*) AS volume
  FROM events
  GROUP BY user_id, date_trunc('hour', ts))
"""


# Staged hourly-bar relation per (applicationId, sf_dir) — see
# staging.py for the lifecycle. ~20 indicator/pattern/finance
# queries consume the same bar aggregation; a production deployment
# materializes exactly this rollup once (it is 1/3600th of the event
# rows), and local persist() is its stand-in.
@staged("transforms.bars")
def ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour OHLCV bars per key from the raw event stream,
    STAGED (computed once per session/fixture, persisted).

    open/close are ordered-first/last via min_by/max_by on the
    (ts, event_id) struct — one aggregation pass, no window shuffle.
    """
    from pyspark import StorageLevel

    ev = load_table(spark, sf_dir, "events")
    order_key = F.struct(F.col("ts"), F.col("event_id"))
    bars = (
        ev.groupBy("user_id", F.date_trunc("hour", F.col("ts")).alias("bar_ts"))
        .agg(
            F.min_by("value", order_key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", order_key).alias("close"),
            F.count("*").alias("volume"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return bars


def bar_window():
    """Deterministic per-key bar ordering (bar_ts is unique per key)."""
    return W.partitionBy("user_id").orderBy("bar_ts")


def daily_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last close per (user_id, day) from the hourly bars — the shared
    hour→day close semantics (tie-break by bar_ts) consumed by the day
    rollup (scale.q_ohlc_day_rollup keeps the full OHLC form) and the
    finance daily-return series."""
    return (ohlc_bars(spark, sf_dir)
            .groupBy("user_id",
                     F.date_trunc("day", F.col("bar_ts")).alias("day_ts"))
            .agg(F.max_by("close", F.col("bar_ts")).alias("close")))


#: DuckDB mirror of :func:`daily_close`.
DAILY_CLOSE_CTE = """
daily AS (
  SELECT user_id, CAST(date_trunc('day', bar_ts) AS TIMESTAMP) AS day_ts,
         last(close ORDER BY bar_ts) AS close
  FROM bars GROUP BY user_id, date_trunc('day', bar_ts))
"""


def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ohlc_bars(spark, sf_dir)


_OHLC_BARS_SQL = f"WITH {BARS_CTE} SELECT * FROM bars"


def q_heikin_ashi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E15 (`streamlit_app/streamlit_app.py:259-265`), as-written:
    ha_close = (o+h+l+c)/4; ha_open = (prev_o + prev_c)/2 from RAW
    prev bars; ha_high = max(o, c, h) row-wise; ha_low = min(o, c, l)."""
    bars = ohlc_bars(spark, sf_dir)
    w = bar_window()
    return bars.select(
        "user_id", "bar_ts",
        ((F.col("open") + F.col("high") + F.col("low") + F.col("close")) / 4)
        .alias("ha_close"),
        ((F.lag("open").over(w) + F.lag("close").over(w)) / 2).alias("ha_open"),
        F.greatest("open", "close", "high").alias("ha_high"),
        F.least("open", "close", "low").alias("ha_low"),
    )


_HEIKIN_ASHI_SQL = f"""
WITH {BARS_CTE}
SELECT user_id, bar_ts,
       (open + high + low + close) / 4 AS ha_close,
       (lag(open) OVER w + lag(close) OVER w) / 2 AS ha_open,
       greatest(open, close, high) AS ha_high,
       least(open, close, low) AS ha_low
FROM bars
WINDOW w AS (PARTITION BY user_id ORDER BY bar_ts)
"""


def q_renko(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E16 (`streamlit_app/streamlit_app.py:281-286`): midpoint close,
    previous close as open, first (null-open) row dropped."""
    bars = ohlc_bars(spark, sf_dir)
    w = bar_window()
    mid = ((F.col("open") + F.col("high") + F.col("low") + F.col("close")) / 4)
    return (
        bars.withColumn("renko_close", mid)
        .withColumn("renko_open", F.lag("renko_close").over(w))
        .na.drop(subset=["renko_open"])
        .select("user_id", "bar_ts", "renko_open", "renko_close",
                "high", "low", "volume")
    )


_RENKO_SQL = f"""
WITH {BARS_CTE},
mids AS (
  SELECT user_id, bar_ts, high, low, volume,
         (open + high + low + close) / 4 AS renko_close
  FROM bars)
SELECT user_id, bar_ts,
       lag(renko_close) OVER w AS renko_open,
       renko_close, high, low, volume
FROM mids
WINDOW w AS (PARTITION BY user_id ORDER BY bar_ts)
QUALIFY renko_open IS NOT NULL
"""


def q_raindrop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E17/B9 (`streamlit_app/streamlit_app.py:288-292`): volume split
    by candle direction — volume*(close>open) / volume*(close<=open)."""
    bars = ohlc_bars(spark, sf_dir)
    return bars.select(
        "user_id", "bar_ts", "open", "close", "volume",
        F.when(F.col("close") > F.col("open"), F.col("volume"))
        .otherwise(F.lit(0)).alias("volume_up"),
        F.when(F.col("close") <= F.col("open"), F.col("volume"))
        .otherwise(F.lit(0)).alias("volume_down"),
    )


_RAINDROP_SQL = f"""
WITH {BARS_CTE}
SELECT user_id, bar_ts, open, close, volume,
       CASE WHEN close > open THEN volume ELSE 0 END AS volume_up,
       CASE WHEN close <= open THEN volume ELSE 0 END AS volume_down
FROM bars
"""


def q_candle_color(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B8 (`streamlit_app/streamlit_app.py:319-321`): bar-to-bar close
    diff → green/red tag (first bar: pandas diff is NaN → red, since
    `NaN > 0` is False; replicated with coalesce)."""
    bars = ohlc_bars(spark, sf_dir)
    w = bar_window()
    diff = F.col("close") - F.lag("close").over(w)
    return bars.select(
        "user_id", "bar_ts", "close",
        F.when(F.coalesce(diff > 0, F.lit(False)), "green")
        .otherwise("red").alias("color"),
    )


_CANDLE_COLOR_SQL = f"""
WITH {BARS_CTE}
SELECT user_id, bar_ts, close,
       CASE WHEN COALESCE(close - lag(close) OVER w > 0, FALSE)
            THEN 'green' ELSE 'red' END AS color
FROM bars
WINDOW w AS (PARTITION BY user_id ORDER BY bar_ts)
"""


QUERIES = {
    "ohlc_bars": (q_ohlc_bars, _OHLC_BARS_SQL),
    "heikin_ashi": (q_heikin_ashi, _HEIKIN_ASHI_SQL),
    "renko": (q_renko, _RENKO_SQL),
    "raindrop": (q_raindrop, _RAINDROP_SQL),
    "candle_color": (q_candle_color, _CANDLE_COLOR_SQL),
}
