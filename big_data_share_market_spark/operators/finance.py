"""Portfolio-grade finance analytics over the per-key bar series:
VWAP, realized return volatility, beta against the equal-weight
market, and cross-key return correlation — the questions a user of
the reference's dashboard asks right after the indicator suite
(`streamlit_app/streamlit_app.py:165-265` stops at indicators).

Numerical contract (the part that makes these oracle-hash-exact):
returns are QUANTIZED map-side to integers, ret_i = floor(ret·1e9) —
floor of a double product is bit-identical on every engine, unlike a
double→DECIMAL cast whose rounding mode (HALF_UP vs HALF_EVEN)
differs between Spark and DuckDB on sub-ulp ties. Every moment
(Σx, Σx², Σxy) is then EXACT integer/decimal arithmetic, identical
on both engines and independent of partitioning; the closed-form
variance/covariance/correlation is ordinary double math on identical
inputs. The 1e-9 return quantum is far below any economic signal.
Prices (VWAP) use the engine-wide DECIMAL(25,6) via functions.dsum.
Oracle note: DuckDB's direct HUGEINT→DOUBLE conversion is not
correctly rounded (it can be 1 ulp off for >2^53 sums); the oracle
converts exact sums through VARCHAR, whose strtod parse IS correctly
rounded and matches Spark's Decimal→double exactly.

Scale notes per query are on the functions; the one shuffle-heavy
shape (corr_pairs' per-timestamp key self-join) documents its 100 TB
candidate-pruning strategy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions import dsum, dsum_sql
from ..staging import staged
from .transforms import (BARS_CTE, DAILY_CLOSE_CTE, bar_window, daily_close,
                         ohlc_bars)

#: Return quantum: ret_i = floor(ret * 1e9), an exact BIGINT.
_Q = int(1e9)
#: Decimal wide enough for Σ(ret_i²) / Σ(ret_i·mkt): ret_i ≤ ~5e12,
#: squares ~2.5e25, row counts ~1e3 per key → well inside 38 digits.
_DEC0 = "decimal(38,0)"


def _rets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key hourly simple returns (close/prev − 1) over the bar
    series, plus the quantized integer form ret_i (see module
    docstring). Simple, not log, returns on purpose: ln() is not
    correctly rounded and differs by 1 ulp between the JVM and libm.
    Shuffle budget: TWO exchanges — the bars aggregate partitions on
    (user_id, hour) and the lag window needs user_id alone, so Spark
    re-shuffles the (already bar-sized, not event-sized) series; a
    materialized bar table bucketed by user_id would make the second
    exchange free."""
    bars = ohlc_bars(spark, sf_dir)
    prev = F.lag("close").over(bar_window())
    return (bars
            .withColumn("ret", F.col("close") / prev - 1)
            .filter(F.col("ret").isNotNull())
            .withColumn("ret_i",
                        F.floor(F.col("ret") * F.lit(float(_Q))))
            .select("user_id", "bar_ts", "close", "volume", "ret", "ret_i"))


_RETS_CTE = f"""{BARS_CTE},
rets0 AS (
  SELECT user_id, bar_ts, close, volume,
         close / lag(close) OVER (PARTITION BY user_id ORDER BY bar_ts) - 1
           AS ret
  FROM bars
  QUALIFY ret IS NOT NULL),
rets AS (
  SELECT *, CAST(floor(ret * {float(_Q)}) AS BIGINT) AS ret_i FROM rets0)
"""


def _s(col) -> F.Column:
    """Exact Σ of integer returns, as double. Summed through
    DECIMAL(38,0), not BIGINT: with ANSI off a long sum would WRAP
    silently past 9.2e18 (the market-index leg can get there at
    ~1e6 keys) while DuckDB promotes to int128 — decimal keeps both
    engines exact and overflow loud (NULL) instead of wrong. The
    decimal→double conversion goes THROUGH STRING: a string parse is
    correctly rounded in both engines, while a direct decimal cast
    is not guaranteed to be, and the oracles' HUGEINT sums convert
    via VARCHAR — past 2^53 the direct cast could drift 1 ulp."""
    return (F.sum(col.cast(_DEC0)).cast("string").cast("double"))


def _sq(a, b) -> F.Column:
    """Exact Σ(a·b) for integer return columns via DECIMAL(38,0);
    same string-path double conversion as `_s`."""
    return (F.sum(a.cast(_DEC0) * b.cast(_DEC0))
            .cast("string").cast("double"))


def q_vwap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily VWAP per key from the hourly bars: Σ(close·volume)/Σvolume
    with decimal-exact sums. Two cascaded aggregations on the same
    key prefix — the hour→day rollup shape of ohlc_day_rollup."""
    bars = ohlc_bars(spark, sf_dir)
    return (
        bars.groupBy("user_id",
                     F.date_trunc("day", F.col("bar_ts")).alias("day_ts"))
        .agg((dsum(F.col("close") * F.col("volume"))
              / F.sum("volume")).alias("vwap"),
             F.sum("volume").alias("volume"))
        .orderBy("user_id", "day_ts")
    )


_VWAP_SQL = f"""
WITH {BARS_CTE}
SELECT user_id, CAST(date_trunc('day', bar_ts) AS TIMESTAMP) AS day_ts,
       {dsum_sql('close * volume')} / SUM(volume) AS vwap,
       CAST(SUM(volume) AS BIGINT) AS volume
FROM bars
GROUP BY user_id, date_trunc('day', bar_ts)
ORDER BY user_id, day_ts
"""


def q_realized_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key realized volatility: sample stddev of hourly returns
    via the closed form sqrt((Σx² − (Σx)²/n)/(n−1)) on exact integer
    moments, rescaled from the 1e-9 quantum at the end."""
    rets = _rets(spark, sf_dir)
    out = (rets.groupBy("user_id")
           .agg(F.count("*").alias("n"),
                _s(F.col("ret_i")).alias("s1"),
                _sq(F.col("ret_i"), F.col("ret_i")).alias("s2")))
    # greatest(0, ·): an exactly-zero variance can compute as a few
    # negative ulps once moments pass 2^53; Spark would return NaN
    # where DuckDB ERRORS on sqrt(negative), so clamp on both sides.
    vol = F.when(
        F.col("n") >= 2,
        F.sqrt(F.greatest(
            F.lit(0.0),
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
            / (F.col("n") - 1))) / _Q)
    return (out.select("user_id", "n", vol.alias("realized_vol"))
            .orderBy("user_id"))


_REALIZED_VOL_SQL = f"""
WITH {_RETS_CTE.strip()},
mo AS (
  SELECT user_id, COUNT(*) AS n,
         CAST(CAST(SUM(ret_i) AS VARCHAR) AS DOUBLE) AS s1,
         CAST(CAST(SUM(CAST(ret_i AS HUGEINT) * ret_i) AS VARCHAR)
              AS DOUBLE) AS s2
  FROM rets GROUP BY user_id)
SELECT user_id, n,
       CASE WHEN n >= 2 THEN
         sqrt(greatest(0.0, (s2 - s1 * s1 / n) / (n - 1))) / {_Q}
       END AS realized_vol
FROM mo
ORDER BY user_id
"""


def q_beta_vs_market(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key beta against the market index return:
    cov(r_k, r_m)/var(r_m), where the market series is the
    equal-weight TOTAL return index mkt_i = Σ_keys ret_i per bar_ts —
    an exact BIGINT, so every moment stays integer/decimal-exact (a
    mean-based market is a double whose decimal cast hits
    rounding-mode ties; with a near-constant cross-section the two
    definitions differ only by a constant scale on beta). The market
    leg is one row per bar_ts and BROADCASTS onto the per-key
    returns — at any scale it is |timestamps|-sized, so the join
    never shuffles the fact side."""
    rets = _rets(spark, sf_dir)
    # Decimal sum for the same wrap-avoidance reason as _s. Capacity
    # note: mkt_i ≤ keys·|ret_i|; its SQUARE must fit DECIMAL(38,0),
    # which holds to ~1e6 moderately-volatile keys — beyond that,
    # coarsen the return quantum (_Q) rather than widen the decimal.
    market = (rets.groupBy("bar_ts")
              .agg(F.sum(F.col("ret_i").cast(_DEC0)).alias("mkt_i")))
    j = rets.join(F.broadcast(market), "bar_ts")
    out = (j.groupBy("user_id")
           .agg(F.count("*").alias("n"),
                _s(F.col("ret_i")).alias("sx"),
                _s(F.col("mkt_i")).alias("sy"),
                _sq(F.col("ret_i"), F.col("mkt_i")).alias("sxy"),
                _sq(F.col("mkt_i"), F.col("mkt_i")).alias("syy")))
    n = F.col("n")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / n
    var_m = F.col("syy") - F.col("sy") * F.col("sy") / n
    return (out.select(
                "user_id", "n",
                F.when((n >= 2) & (var_m != 0), cov / var_m).alias("beta"))
            .orderBy("user_id"))


_BETA_SQL = f"""
WITH {_RETS_CTE.strip()},
market AS (
  SELECT bar_ts, SUM(ret_i) AS mkt_i
  FROM rets GROUP BY bar_ts),
j AS (SELECT r.user_id, r.ret_i, m.mkt_i
      FROM rets r JOIN market m USING (bar_ts)),
mo AS (
  SELECT user_id, COUNT(*) AS n,
         CAST(CAST(SUM(ret_i) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(mkt_i) AS VARCHAR) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(ret_i AS HUGEINT) * mkt_i) AS VARCHAR)
              AS DOUBLE) AS sxy,
         CAST(CAST(SUM(CAST(mkt_i AS HUGEINT) * mkt_i) AS VARCHAR)
              AS DOUBLE) AS syy
  FROM j GROUP BY user_id)
SELECT user_id, n,
       CASE WHEN n >= 2 AND (syy - sy * sy / n) <> 0
            THEN (sxy - sx * sy / n) / (syy - sy * sy / n) END AS beta
FROM mo
ORDER BY user_id
"""


_CORR_MIN_N = 15
_CORR_TOP = 20


# Staged daily-returns relation per (applicationId, sf_dir) — the
# staging.py lifecycle, same rationale as transforms.ohlc_bars: four
# queries (corr_pairs, dow_seasonality, rolling_covariance,
# cross_sectional_momentum) consume the identical day-close return
# series, and rolling_covariance alone references it three times
# (universe + both self-join legs) — unstaged, Spark re-plans the
# bars→day→lag lineage per reference (measured 7.3 s warm at sf0.1;
# staged ~2 s). A production pipeline materializes exactly this
# keys×days rollup once.
@staged("finance.daily_rets")
def _daily_rets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key DAILY returns for cross-key correlation: hourly bars
    are too sparse for pairwise timestamp overlap at low data density
    (two thin keys rarely trade the same hour), while almost every
    key closes every day. Day-close semantics shared with the scale
    rollup via transforms.daily_close; same quantization contract as
    _rets. STAGED (computed once per session/fixture, persisted)."""
    from pyspark import StorageLevel

    daily = daily_close(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("day_ts")
    out = (daily
           .withColumn("ret", F.col("close") / F.lag("close").over(w) - 1)
           .filter(F.col("ret").isNotNull())
           .withColumn("ret_i", F.floor(F.col("ret") * F.lit(float(_Q))))
           .select("user_id", "day_ts", "ret_i")
           .persist(StorageLevel.MEMORY_AND_DISK))
    return out


_DAILY_RETS_CTE = f"""{BARS_CTE},
{DAILY_CLOSE_CTE.strip()},
drets0 AS (
  SELECT user_id, day_ts,
         close / lag(close) OVER (PARTITION BY user_id ORDER BY day_ts) - 1
           AS ret
  FROM daily
  QUALIFY ret IS NOT NULL),
drets AS (
  SELECT *, CAST(floor(ret * {float(_Q)}) AS BIGINT) AS ret_i FROM drets0)
"""


def q_corr_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 (_CORR_TOP) most-correlated key pairs by daily
    returns: self-join on day_ts (a < b), exact integer pair moments,
    closed-form Pearson, TakeOrdered top-k.

    Scale: the per-timestamp self-join is quadratic in keys sharing a
    timestamp — fine for hundreds of symbols, not for millions of
    keys. The 100 TB form prunes candidates first (correlate only
    pairs sharing a sector/bucket, or sketch with SimHash over return
    signs) and feeds the SAME moment aggregation; the quadratic
    expansion here is the analytics-grade exact form, kept because
    symbols (the reference's key domain) number in the thousands at
    most."""
    rets = _daily_rets(spark, sf_dir)
    a = rets.select(F.col("user_id").alias("a_id"), "day_ts",
                    F.col("ret_i").alias("x"))
    b = rets.select(F.col("user_id").alias("b_id"), "day_ts",
                    F.col("ret_i").alias("y"))
    j = a.join(b, "day_ts").filter(F.col("a_id") < F.col("b_id"))
    mo = (j.groupBy("a_id", "b_id")
          .agg(F.count("*").alias("n"),
               _s(F.col("x")).alias("sx"),
               _s(F.col("y")).alias("sy"),
               _sq(F.col("x"), F.col("y")).alias("sxy"),
               _sq(F.col("x"), F.col("x")).alias("sxx"),
               _sq(F.col("y"), F.col("y")).alias("syy")))
    n = F.col("n")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    corr = cov / F.sqrt(vx * vy)
    return (mo.filter(n >= _CORR_MIN_N)
            .filter((vx > 0) & (vy > 0))
            .select("a_id", "b_id", "n", corr.alias("corr"))
            .orderBy(F.desc("corr"), "a_id", "b_id")
            .limit(_CORR_TOP))


_CORR_PAIRS_SQL = f"""
WITH {_DAILY_RETS_CTE.strip()},
j AS (
  SELECT a.user_id AS a_id, b.user_id AS b_id,
         a.ret_i AS x, b.ret_i AS y
  FROM drets a JOIN drets b ON a.day_ts = b.day_ts
                           AND a.user_id < b.user_id),
mo AS (
  SELECT a_id, b_id, COUNT(*) AS n,
         CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(x AS HUGEINT) * y) AS VARCHAR) AS DOUBLE) AS sxy,
         CAST(CAST(SUM(CAST(x AS HUGEINT) * x) AS VARCHAR) AS DOUBLE) AS sxx,
         CAST(CAST(SUM(CAST(y AS HUGEINT) * y) AS VARCHAR) AS DOUBLE) AS syy
  FROM j GROUP BY a_id, b_id)
SELECT a_id, b_id, n,
       (n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
         AS corr
FROM mo
WHERE n >= {_CORR_MIN_N}
  AND (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
ORDER BY corr DESC, a_id, b_id
LIMIT {_CORR_TOP}
"""


def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key maximum drawdown over the bar series: running peak via
    a cumulative-max window, relative drawdown (peak−close)/peak per
    bar, max per key. The batch twin of the streaming
    stream_drawdown_per_key operator. Shuffle budget: the bars
    aggregate's (user_id, hour) exchange plus one re-shuffle to
    user_id for the window; the final aggregate rides the window's
    partitioning. Pure ratios of identical doubles — deterministic on
    both engines."""
    bars = ohlc_bars(spark, sf_dir)
    w = (W.partitionBy("user_id").orderBy("bar_ts")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    peak = F.max("close").over(w)
    dd = (peak - F.col("close")) / peak
    return (bars.withColumn("dd", dd)
            .groupBy("user_id")
            .agg(F.max("dd").alias("max_drawdown"),
                 F.max("close").alias("peak_close"))
            .orderBy("user_id"))


_MAX_DRAWDOWN_SQL = f"""
WITH {BARS_CTE},
dds AS (
  SELECT user_id,
         (MAX(close) OVER w - close) / MAX(close) OVER w AS dd,
         close
  FROM bars
  WINDOW w AS (PARTITION BY user_id ORDER BY bar_ts
               ROWS UNBOUNDED PRECEDING))
SELECT user_id, MAX(dd) AS max_drawdown, MAX(close) AS peak_close
FROM dds
GROUP BY user_id
ORDER BY user_id
"""


def q_volume_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume profile per key: hourly-bar volume aggregated into
    integer price bins (floor(close)), with each key's point of
    control (the max-volume bin, ties to the lower bin) flagged — the
    market-profile histogram traders read against support/resistance.
    One grouped agg over the staged bars + one per-key window rank;
    integer volumes keep both engines hash-exact."""
    bars = ohlc_bars(spark, sf_dir)
    binned = (bars.groupBy("user_id",
                           F.floor("close").alias("price_bin"))
              .agg(F.sum("volume").alias("bin_volume"),
                   F.count("*").alias("n_bars")))
    w = W.partitionBy("user_id").orderBy(
        F.desc("bin_volume"), F.asc("price_bin"))
    return (binned
            .withColumn("is_poc", F.row_number().over(w) == 1)
            .orderBy("user_id", "price_bin"))


_VOLUME_PROFILE_SQL = f"""
WITH {BARS_CTE},
binned AS (
  SELECT user_id, CAST(floor(close) AS BIGINT) AS price_bin,
         CAST(SUM(volume) AS BIGINT) AS bin_volume,
         COUNT(*) AS n_bars
  FROM bars GROUP BY user_id, floor(close))
SELECT user_id, price_bin, bin_volume, n_bars,
       row_number() OVER (PARTITION BY user_id
                          ORDER BY bin_volume DESC, price_bin) = 1 AS is_poc
FROM binned
ORDER BY user_id, price_bin
"""


def q_drawdown_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-under-water: per bar, how many consecutive bars the key
    has spent below its running peak (0 at each new peak), plus each
    key's worst spell. Gaps-and-islands via windows only: rn minus
    the last peak-setting rn (cumulative MAX over a CASE) — no
    self-join, one exchange over the staged bars."""
    bars = ohlc_bars(spark, sf_dir)
    w = bar_window()
    cum = w.rowsBetween(W.unboundedPreceding, 0)
    bars = (bars.withColumn("rn", F.row_number().over(w))
            .withColumn("peak", F.max("close").over(cum)))
    peak_rn = F.max(
        F.when(F.col("close") >= F.col("peak"), F.col("rn"))).over(cum)
    bars = bars.withColumn("underwater_bars", F.col("rn") - peak_rn)
    return (bars.groupBy("user_id")
            .agg(F.max("underwater_bars").alias("max_underwater_bars"),
                 F.avg(F.col("underwater_bars").cast("double"))
                 .alias("avg_underwater_bars"),
                 F.count("*").alias("n_bars"))
            .orderBy("user_id"))


_DRAWDOWN_DURATION_SQL = f"""
WITH {BARS_CTE},
r AS (
  SELECT user_id, bar_ts, close,
         row_number() OVER w AS rn,
         MAX(close) OVER (PARTITION BY user_id ORDER BY bar_ts
                          ROWS UNBOUNDED PRECEDING) AS peak
  FROM bars
  WINDOW w AS (PARTITION BY user_id ORDER BY bar_ts)),
d AS (
  SELECT user_id,
         rn - MAX(CASE WHEN close >= peak THEN rn END)
                OVER (PARTITION BY user_id ORDER BY rn
                      ROWS UNBOUNDED PRECEDING) AS underwater_bars
  FROM r)
SELECT user_id,
       MAX(underwater_bars) AS max_underwater_bars,
       AVG(CAST(underwater_bars AS DOUBLE)) AS avg_underwater_bars,
       COUNT(*) AS n_bars
FROM d GROUP BY user_id
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# Historical VaR / CVaR (expected shortfall)
# ---------------------------------------------------------------------------

def q_var_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key historical 95% Value-at-Risk and CVaR (expected
    shortfall) over the hourly return series — the tail-risk pair
    every risk desk reports next to realized volatility (Basel-style
    historical simulation, public method): VaR = −(5th-percentile
    return), CVaR = −(mean of returns at or below that quantile).

    Exactness: the quantile runs on the QUANTIZED integer returns
    (ret_i = floor(ret·1e9)) via percentile_disc — a member value,
    exact in both engines (Spark's percentile_disc emits DOUBLE, so
    it is cast back to BIGINT: the length_outliers discipline); the
    tail mean divides two exact integers (tail sums of |ret_i| ≤
    5e12 over ~1e3 rows stay far inside int64). Rescaling to the
    return scale happens once, identically, at the end.

    Scale shape: two bytes-per-key aggregates (quantile, then tail
    moments) with the quantile broadcast back onto the bar-sized
    series — the length_outliers layout; nothing event-sized
    shuffles twice."""
    rets = _rets(spark, sf_dir)
    q = rets.groupBy("user_id").agg(
        F.expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY ret_i)")
        .cast("long").alias("q_i"),
        F.count("*").alias("n"))
    tail = (rets.join(F.broadcast(q), "user_id")
            .filter(F.col("ret_i") <= F.col("q_i"))
            .groupBy("user_id")
            .agg(F.count("*").alias("n_tail"),
                 F.sum("ret_i").alias("s_tail")))
    return (q.join(tail, "user_id")
            .select(
                "user_id", "n", "n_tail",
                (-(F.col("q_i").cast("double") / F.lit(float(_Q))))
                .alias("var_95"),
                (-(F.col("s_tail").cast("double")
                   / F.col("n_tail") / F.lit(float(_Q))))
                .alias("cvar_95"))
            .orderBy("user_id"))


_VAR_CVAR_SQL = f"""
WITH {_RETS_CTE.strip()},
q AS (
  SELECT user_id, quantile_disc(ret_i, 0.05) AS q_i, COUNT(*) AS n
  FROM rets GROUP BY user_id),
t AS (
  SELECT r.user_id, COUNT(*) AS n_tail,
         CAST(SUM(r.ret_i) AS BIGINT) AS s_tail
  FROM rets r JOIN q USING (user_id)
  WHERE r.ret_i <= q.q_i GROUP BY r.user_id)
SELECT q.user_id, q.n, t.n_tail,
       -(CAST(q.q_i AS DOUBLE) / {float(_Q)}) AS var_95,
       -(CAST(t.s_tail AS DOUBLE) / t.n_tail / {float(_Q)}) AS cvar_95
FROM q JOIN t USING (user_id)
ORDER BY q.user_id
"""


# ---------------------------------------------------------------------------
# Lag-1 return autocorrelation (momentum vs mean-reversion screen)
# ---------------------------------------------------------------------------

def q_return_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key lag-1 autocorrelation of hourly returns — the
    standard momentum/mean-reversion screen (positive: trending;
    negative: mean-reverting; the first diagnostic run before
    fitting any AR model). Pearson correlation of (ret_t, ret_{t-1})
    over each key's series, computed from EXACT integer moments of
    the quantized returns (the beta_vs_market machinery — pair
    products of ret_i ≤ 5e12 sit far inside DECIMAL(38,0)), with the
    corr expression written as the SAME double text in both engines.
    The oracle's HUGEINT moments convert to double THROUGH VARCHAR
    (the realized_volatility trick): moments near 2e21 exceed 2^53,
    and DuckDB's direct HUGEINT→DOUBLE cast rounds differently from
    the JVM's decimal→double (observed 1-ulp corr drift on one key);
    the decimal string parse is correctly rounded in both engines.

    Scale shape: the lag is one window on the already bar-sized
    series (same layout the returns lag used — no extra exchange
    class), then a single map-side-combined per-key moment
    aggregate. NULL when fewer than 3 pairs or a zero-variance leg."""
    rets = _rets(spark, sf_dir)
    lag_i = F.lag("ret_i").over(bar_window())
    pairs = (rets.withColumn("prev_i", lag_i)
             .filter(F.col("prev_i").isNotNull()))
    out = (pairs.groupBy("user_id")
           .agg(F.count("*").alias("n"),
                _s(F.col("ret_i")).alias("sx"),
                _s(F.col("prev_i")).alias("sy"),
                _sq(F.col("ret_i"), F.col("prev_i")).alias("sxy"),
                _sq(F.col("ret_i"), F.col("ret_i")).alias("sxx"),
                _sq(F.col("prev_i"), F.col("prev_i")).alias("syy")))
    n = F.col("n")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / n
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    vy = F.col("syy") - F.col("sy") * F.col("sy") / n
    return (out.select(
                "user_id", "n",
                F.when((n >= 3) & (vx > 0) & (vy > 0),
                       cov / F.sqrt(vx * vy)).alias("autocorr_1"))
            .orderBy("user_id"))


_AUTOCORR_SQL = f"""
WITH {_RETS_CTE.strip()},
p AS (
  SELECT user_id, ret_i,
         lag(ret_i) OVER (PARTITION BY user_id ORDER BY bar_ts) AS prev_i
  FROM rets
  QUALIFY prev_i IS NOT NULL),
mo AS (
  SELECT user_id, COUNT(*) AS n,
         CAST(CAST(SUM(CAST(ret_i AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(CAST(prev_i AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(ret_i AS HUGEINT) * prev_i) AS VARCHAR)
              AS DOUBLE) AS sxy,
         CAST(CAST(SUM(CAST(ret_i AS HUGEINT) * ret_i) AS VARCHAR)
              AS DOUBLE) AS sxx,
         CAST(CAST(SUM(CAST(prev_i AS HUGEINT) * prev_i) AS VARCHAR)
              AS DOUBLE) AS syy
  FROM p GROUP BY user_id)
SELECT user_id, n,
       CASE WHEN n >= 3 AND (sxx - sx * sx / n) > 0
                 AND (syy - sy * sy / n) > 0 THEN
         (sxy - sx * sy / n)
           / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))
       END AS autocorr_1
FROM mo
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# Multi-lag autocorrelation function (the ACF table behind AR-order
# selection — generalizes return_autocorr's single lag)
# ---------------------------------------------------------------------------

#: ACF horizon. Small on purpose: the ACF is a per-lag Pearson and
#: lags beyond a few steps are noise at the fixture's series length;
#: the shape is what matters — K lags cost ONE window pass, not K.
_ACF_LAGS = 5


def q_acf_multi_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of hourly returns at lags 1..5 per
    key — the AR-order diagnostic table (`return_autocorr` is its
    lag-1 row; a trader reads the decay profile, an AR fitter reads
    where it cuts off). Same exact-integer-moment machinery: per
    (key, lag) Pearson of (ret_t, ret_{t-k}) from DECIMAL(38,0)
    moments, identical guarded corr text in both engines.

    Scale shape: all K lag columns come from ONE Window pass (same
    partition/ordering spec ⇒ Spark evaluates every lag in a single
    WindowExec — no per-lag exchange), the wide row unpivots with
    `stack` (row-local), and one (key, lag) aggregate finishes. At
    100 TB: one bar-sized shuffle + one K×-bars-sized map-side-
    combined agg; K never multiplies the exchange count."""
    rets = _rets(spark, sf_dir)
    w = bar_window()
    lags = [F.lag("ret_i", k).over(w).alias(f"l{k}")
            for k in range(1, _ACF_LAGS + 1)]
    wide = rets.select("user_id", "ret_i", *lags)
    stack_args = ", ".join(f"{k}, l{k}" for k in range(1, _ACF_LAGS + 1))
    pairs = (wide.select(
        "user_id", "ret_i",
        F.expr(f"stack({_ACF_LAGS}, {stack_args}) AS (lag_k, prev_i)"))
        .filter(F.col("prev_i").isNotNull()))
    out = (pairs.groupBy("user_id", "lag_k")
           .agg(F.count("*").alias("n"),
                _s(F.col("ret_i")).alias("sx"),
                _s(F.col("prev_i")).alias("sy"),
                _sq(F.col("ret_i"), F.col("prev_i")).alias("sxy"),
                _sq(F.col("ret_i"), F.col("ret_i")).alias("sxx"),
                _sq(F.col("prev_i"), F.col("prev_i")).alias("syy")))
    n = F.col("n")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / n
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    vy = F.col("syy") - F.col("sy") * F.col("sy") / n
    return (out.select(
                "user_id", "lag_k", "n",
                F.when((n >= 3) & (vx > 0) & (vy > 0),
                       cov / F.sqrt(vx * vy)).alias("acf"))
            .orderBy("user_id", "lag_k"))


def _acf_lag_branch(k: int) -> str:
    return (f"  SELECT user_id, {k} AS lag_k, ret_i, l{k} AS prev_i"
            f" FROM w WHERE l{k} IS NOT NULL")


_ACF_SQL = f"""
WITH {_RETS_CTE.strip()},
w AS (
  SELECT user_id, ret_i,
         {", ".join(f"lag(ret_i, {k}) OVER (PARTITION BY user_id"
                    f" ORDER BY bar_ts) AS l{k}"
                    for k in range(1, _ACF_LAGS + 1))}
  FROM rets),
p AS (
{" UNION ALL ".join(chr(10) + _acf_lag_branch(k)
                    for k in range(1, _ACF_LAGS + 1))}),
mo AS (
  SELECT user_id, lag_k, COUNT(*) AS n,
         CAST(CAST(SUM(CAST(ret_i AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(CAST(prev_i AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(ret_i AS HUGEINT) * prev_i) AS VARCHAR)
              AS DOUBLE) AS sxy,
         CAST(CAST(SUM(CAST(ret_i AS HUGEINT) * ret_i) AS VARCHAR)
              AS DOUBLE) AS sxx,
         CAST(CAST(SUM(CAST(prev_i AS HUGEINT) * prev_i) AS VARCHAR)
              AS DOUBLE) AS syy
  FROM p GROUP BY user_id, lag_k)
SELECT user_id, lag_k, n,
       CASE WHEN n >= 3 AND (sxx - sx * sx / n) > 0
                 AND (syy - sy * sy / n) > 0 THEN
         (sxy - sx * sy / n)
           / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))
       END AS acf
FROM mo
ORDER BY user_id, lag_k
"""


# ---------------------------------------------------------------------------
# Ljung–Box whiteness test (the "is it white noise" companion of the
# ACF table: pooled portmanteau over lags 1..K)
# ---------------------------------------------------------------------------

#: chi-square 95th percentile at df = _ACF_LAGS (scipy value, shared
#: literal in both engines).
_LB_CHI2_95_DF5 = 11.070497693516351


def _lb_exprs() -> tuple[str, str]:
    """(q_lb, guard) expression texts shared by BOTH engines. The
    Ljung–Box statistic uses the STANDARD acf estimator (global mean,
    c_k/c0 with the pooled denominator), reconstructed from exact
    integer sums: per key, with m = s/n,

      c_k·n = p_k − m·(2s − h_k − t_k) + (n−k)·m²
      c_0·n = ss − s²/n
      r_k   = (c_k·n)/(c_0·n)
      Q     = n(n+2) · Σ_k r_k²/(n−k)   (FIXED association: the K=5
              terms are summed left-to-right in the expression text,
              so no cross-row float accumulation order exists)

    where p_k = Σ x_t·x_{t−k} (exact), h_k / t_k = exact sums of the
    first/last k values (the edge corrections for the truncated lag
    sums)."""
    m = "(s / n)"
    den = "(ss - s * s / n)"
    terms = []
    for k in range(1, _ACF_LAGS + 1):
        ck = (f"(p{k} - {m} * (2 * s - h{k} - t{k})"
              f" + (n - {k}) * {m} * {m})")
        terms.append(f"(({ck} / {den}) * ({ck} / {den})) / (n - {k})")
    q = "n * (n + 2) * (" + " + ".join(terms) + ")"
    guard = f"n > {2 * _ACF_LAGS} AND {den} > 0"
    return q, guard


def _lag_moment_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key EXACT integer lag moments of the quantized returns —
    the shared input of `ljung_box_whiteness` and
    `pacf_durbin_levinson`: n, Σx (s), Σx² (ss), and for each lag k
    the lag product p_k = Σ x_t·x_{t−k} plus the first-k/last-k edge
    sums h_k/t_k. One bar-sized window pass (rn + all lag columns,
    one WindowExec) + one map-side-combined aggregate; every sum is
    DECIMAL(38,0)-accumulated and converted to double THROUGH STRING
    (correctly-rounded parse, matching the oracle's VARCHAR path)."""
    rets = _rets(spark, sf_dir)
    w = bar_window()
    wk = W.partitionBy("user_id")
    wide = rets.select(
        "user_id", "ret_i",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wk).alias("nk"),
        *[F.lag("ret_i", k).over(w).alias(f"l{k}")
          for k in range(1, _ACF_LAGS + 1)])

    def _d(e: str) -> F.Column:
        return F.expr(f"CAST(CAST(SUM(CAST({e} AS DECIMAL(38,0)))"
                      f" AS STRING) AS DOUBLE)")

    aggs = [F.count("*").cast("double").alias("n"),
            _d("ret_i").alias("s"),
            _d("CAST(ret_i AS DECIMAL(38,0)) * ret_i").alias("ss")]
    for k in range(1, _ACF_LAGS + 1):
        aggs += [
            _d(f"CASE WHEN l{k} IS NOT NULL THEN"
               f" CAST(ret_i AS DECIMAL(38,0)) * l{k} END").alias(f"p{k}"),
            _d(f"CASE WHEN rn <= {k} THEN ret_i END").alias(f"h{k}"),
            _d(f"CASE WHEN rn > nk - {k} THEN ret_i END").alias(f"t{k}"),
        ]
    return wide.groupBy("user_id").agg(*aggs)


def _lag_moments_ctes() -> str:
    """Oracle mirror of `_lag_moment_frame` as the `wide, mo` CTE
    pair (caller prepends the rets CTEs)."""
    lag_cols = ", ".join(
        f"lag(ret_i, {k}) OVER (PARTITION BY user_id ORDER BY bar_ts)"
        f" AS l{k}" for k in range(1, _ACF_LAGS + 1))
    moment_cols = ["CAST(COUNT(*) AS DOUBLE) AS n",
                   "CAST(CAST(SUM(CAST(ret_i AS HUGEINT)) AS VARCHAR)"
                   " AS DOUBLE) AS s",
                   "CAST(CAST(SUM(CAST(ret_i AS HUGEINT) * ret_i)"
                   " AS VARCHAR) AS DOUBLE) AS ss"]
    for k in range(1, _ACF_LAGS + 1):
        moment_cols += [
            f"CAST(CAST(SUM(CASE WHEN l{k} IS NOT NULL THEN"
            f" CAST(ret_i AS HUGEINT) * l{k} END) AS VARCHAR)"
            f" AS DOUBLE) AS p{k}",
            f"CAST(CAST(SUM(CASE WHEN rn <= {k} THEN"
            f" CAST(ret_i AS HUGEINT) END) AS VARCHAR) AS DOUBLE) AS h{k}",
            f"CAST(CAST(SUM(CASE WHEN rn > nk - {k} THEN"
            f" CAST(ret_i AS HUGEINT) END) AS VARCHAR) AS DOUBLE) AS t{k}",
        ]
    return f"""wide AS (
  SELECT user_id, ret_i,
         row_number() OVER (PARTITION BY user_id ORDER BY bar_ts) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS nk,
         {lag_cols}
  FROM rets),
mo AS (
  SELECT user_id, {", ".join(moment_cols)}
  FROM wide GROUP BY user_id)"""


def q_ljung_box_whiteness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau test per key over hourly returns, lags
    1..5 — the whiteness screen read NEXT to `acf_multi_lag`: the ACF
    table shows WHERE correlation lives, Q says whether the pooled
    autocorrelation is jointly significant (Q > χ²₀.₉₅(5) ⇒ the
    series is not white noise ⇒ an AR model has something to fit /
    a residual stream still carries structure).

    Exactness: every input to the float expression is an exact
    integer sum of quantized returns (Σx, Σx², the five lag products
    Σ x_t·x_{t−k}, and the first-k/last-k edge sums), accumulated in
    DECIMAL(38,0)/HUGEINT and converted to double through VARCHAR;
    Q is ONE shared expression text with fixed association, so both
    engines run the identical IEEE op sequence on identical inputs.

    Scale shape: one bar-sized window pass produces the 5 lag columns
    plus rn (all the same window spec ⇒ one WindowExec), then ONE
    map-side-combined per-key aggregate computes all 13 exact sums;
    no pair lattice, no second shuffle class."""
    mo = _lag_moment_frame(spark, sf_dir)
    q, guard = _lb_exprs()
    return (mo.where(F.expr(guard))
            .select("user_id", F.col("n").cast("long").alias("n"),
                    F.expr(q).alias("q_lb"),
                    F.expr(f"({q}) > CAST({_LB_CHI2_95_DF5!r} AS DOUBLE)")
                    .alias("not_white_noise"))
            .orderBy("user_id"))


def _lb_sql() -> str:
    q, guard = _lb_exprs()
    return f"""
WITH {_RETS_CTE.strip()},
{_lag_moments_ctes()}
SELECT user_id, CAST(n AS BIGINT) AS n, {q} AS q_lb,
       ({q}) > CAST({_LB_CHI2_95_DF5!r} AS DOUBLE) AS not_white_noise
FROM mo WHERE {guard}
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# Partial autocorrelation via Durbin–Levinson (closes the ACF/PACF/
# Ljung–Box univariate diagnostic kit)
# ---------------------------------------------------------------------------

def _acf_col_exprs() -> list[str]:
    """r1..r5 as columns from the exact lag moments (the SAME c_k/c0
    texts `_lb_exprs` uses, materialized once so every later level
    references one computed double per r_k)."""
    m = "(s / n)"
    den = "(ss - s * s / n)"
    cols = []
    for k in range(1, _ACF_LAGS + 1):
        ck = (f"(p{k} - {m} * (2 * s - h{k} - t{k})"
              f" + (n - {k}) * {m} * {m})")
        cols.append(f"({ck}) / {den} AS r{k}")
    return cols


def _pacf_level_exprs() -> list[list[str]]:
    """The Durbin–Levinson recursion unrolled to order `_ACF_LAGS` as
    per-level column definitions — each level only references columns
    defined by earlier levels, so chaining them as SELECT layers gives
    BOTH engines the identical IEEE op tree:

      φ_{k,k} = (r_k − Σ_{j<k} φ_{k−1,j}·r_{k−j})
                / (1 − Σ_{j<k} φ_{k−1,j}·r_j)
      φ_{k,j} = φ_{k−1,j} − φ_{k,k}·φ_{k−1,k−j}

    Every division is CASE-guarded on a nonzero denominator (non-ANSI
    Spark yields NULL on /0 while DuckDB yields ±inf — the guard makes
    the degenerate case NULL in both, and NULL then propagates
    identically through the remaining levels)."""
    levels: list[list[str]] = [["r1 AS a1_1"]]
    for k in range(2, _ACF_LAGS + 1):
        prev = k - 1
        num = f"r{k} - " + " - ".join(
            f"a{prev}_{j} * r{k - j}" for j in range(1, k))
        den = "1 - " + " - ".join(
            f"a{prev}_{j} * r{j}" for j in range(1, k))
        defs = [f"CASE WHEN ({den}) <> 0 THEN ({num}) / ({den})"
                f" ELSE CAST(NULL AS DOUBLE) END AS a{k}_{k}"]
        levels.append(defs)
        # φ_{k,j} updates reference φ_{k,k}, so they live one layer
        # deeper than the diagonal they use.
        levels.append([f"a{prev}_{j} - a{k}_{k} * a{prev}_{k - j}"
                       f" AS a{k}_{j}" for j in range(1, k)])
    return levels


def q_pacf_durbin_levinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation function per key at lags 1..5 via the
    Durbin–Levinson recursion — the AR-ORDER SELECTOR next to
    `acf_multi_lag` and `ljung_box_whiteness`: the ACF of an AR(p)
    process decays forever, its PACF CUTS OFF after lag p, so the
    last significant PACF lag IS the model order.

    Exactness: r1..r5 come from the shared exact integer lag moments
    (`_lag_moment_frame`); the recursion is unrolled into chained
    SELECT layers whose texts are IDENTICAL in both engines — each
    level only consumes columns the previous level materialized, so
    the double op tree (and any guarded-NULL degenerate case) is the
    same everywhere.

    Scale shape: everything after the one moment aggregate is
    row-local arithmetic on a keys-sized frame — the unrolled
    recursion adds zero exchanges at any scale."""
    mo = _lag_moment_frame(spark, sf_dir)
    _, guard = _lb_exprs()
    out = (mo.where(F.expr(guard))
           .selectExpr("user_id", "n", *_acf_col_exprs()))
    for level in _pacf_level_exprs():
        out = out.selectExpr("*", *level)
    return (out.selectExpr(
        "user_id", "CAST(n AS BIGINT) AS n",
        *[f"a{k}_{k} AS pacf_{k}" for k in range(1, _ACF_LAGS + 1)])
        .orderBy("user_id"))


def _pacf_sql() -> str:
    _, guard = _lb_exprs()
    ctes = [f"lv0 AS (\n  SELECT user_id, n, {', '.join(_acf_col_exprs())}"
            f"\n  FROM mo WHERE {guard})"]
    for i, level in enumerate(_pacf_level_exprs(), start=1):
        ctes.append(f"lv{i} AS (\n  SELECT *, {', '.join(level)}"
                    f"\n  FROM lv{i - 1})")
    last = len(_pacf_level_exprs())
    pacf_cols = ", ".join(f"a{k}_{k} AS pacf_{k}"
                          for k in range(1, _ACF_LAGS + 1))
    cte_block = ",\n".join(ctes)
    return f"""
WITH {_RETS_CTE.strip()},
{_lag_moments_ctes()},
{cte_block}
SELECT user_id, CAST(n AS BIGINT) AS n, {pacf_cols}
FROM lv{last}
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# AR order selection (composes the ACF/PACF/Ljung–Box kit into the
# per-key model-order recommendation the three diagnostics motivate)
# ---------------------------------------------------------------------------

def _ar_order_expr() -> str:
    """Shared CASE text: order 0 when Ljung–Box cannot reject
    whiteness; else the LAST lag whose |PACF| clears the large-sample
    ±z/√n significance band (the textbook AR(p) cutoff read). NULL
    PACF diagonals (guarded-division degenerate keys) skip their
    branch identically in both engines — a NULL comparison is
    not-TRUE everywhere."""
    thr = f"(CAST({_RUNS_Z_CRIT!r} AS DOUBLE) / sqrt(n))"
    branches = " ".join(
        f"WHEN abs(a{k}_{k}) > {thr} THEN {k}"
        for k in range(_ACF_LAGS, 0, -1))
    return (f"CAST(CASE WHEN NOT (q_lb >"
            f" CAST({_LB_CHI2_95_DF5!r} AS DOUBLE)) THEN 0"
            f" ELSE CASE {branches} ELSE 0 END END AS INT)")


def q_ar_order_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key AR model-order recommendation — the composition the
    three univariate diagnostics exist for: `ljung_box_whiteness`
    gates (a white series needs no AR model, order 0) and
    `pacf_durbin_levinson` selects (the PACF of an AR(p) cuts off
    after lag p, so the last |PACF_k| > z/√n is the order). The
    closing query of the diagnostics kit, the way dashboard_snapshot
    closed the indicator stack.

    Exactness: ONE shared lineage — the exact integer lag moments
    (`_lag_moment_frame`) feed the identical r_k, Q and unrolled
    Durbin–Levinson texts both engines already run green for the
    component queries; the order pick adds only comparisons on those
    doubles, so no new float surface exists.

    Scale shape: identical to the components — one bar-sized window
    pass + one per-key moment aggregate, then row-local arithmetic
    on a keys-sized frame; the composition adds ZERO exchanges over
    computing any one diagnostic alone (the three are never computed
    separately and joined — they share the moment scan)."""
    mo = _lag_moment_frame(spark, sf_dir)
    q, guard = _lb_exprs()
    out = (mo.where(F.expr(guard))
           .selectExpr("user_id", "n", f"{q} AS q_lb",
                       *_acf_col_exprs()))
    for level in _pacf_level_exprs():
        out = out.selectExpr("*", *level)
    return (out.selectExpr(
        "user_id", "CAST(n AS BIGINT) AS n", "q_lb",
        f"q_lb > CAST({_LB_CHI2_95_DF5!r} AS DOUBLE)"
        " AS not_white_noise",
        f"{_ar_order_expr()} AS ar_order")
        .orderBy("user_id"))


def _ar_order_sql() -> str:
    q, guard = _lb_exprs()
    ctes = [f"lv0 AS (\n  SELECT user_id, n, {q} AS q_lb,"
            f" {', '.join(_acf_col_exprs())}\n  FROM mo WHERE {guard})"]
    for i, level in enumerate(_pacf_level_exprs(), start=1):
        ctes.append(f"lv{i} AS (\n  SELECT *, {', '.join(level)}"
                    f"\n  FROM lv{i - 1})")
    last = len(_pacf_level_exprs())
    cte_block = ",\n".join(ctes)
    return f"""
WITH {_RETS_CTE.strip()},
{_lag_moments_ctes()},
{cte_block}
SELECT user_id, CAST(n AS BIGINT) AS n, q_lb,
       q_lb > CAST({_LB_CHI2_95_DF5!r} AS DOUBLE) AS not_white_noise,
       {_ar_order_expr()} AS ar_order
FROM lv{last}
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# Rolling pairwise covariance/correlation (the multivariate seam: the
# k×k risk-model input, materialized as its pair list)
# ---------------------------------------------------------------------------

#: Trailing window length in COMMON daily observations per pair (the
#: fixtures span 30 days → ≤29 daily returns, so 10 gives every pair
#: a real rolling history at every SF).
_RCOV_W = 10

#: Pair-universe bound: the covariance matrix is only ever
#: materialized for a BOUNDED asset universe (a risk model's k is
#: thousands, chosen by liquidity/coverage — never "every key in the
#: corpus"). Top-40 most-active keys here; the |universe|² pair
#: lattice is the intended output size, not an accident of the join.
_RCOV_UNIVERSE = 40

_RCOV_N = f"CAST({_RCOV_W} AS DOUBLE)"
_RCOV_QQ = (f"(CAST({float(_Q)!r} AS DOUBLE)"
            f" * CAST({float(_Q)!r} AS DOUBLE))")
#: Shared final texts over the windowed exact integer moments
#: (sx, sy, sxy, sxx, syy as correctly-rounded doubles): sample
#: covariance in return units and the matching rolling correlation,
#: integer-form numerators like corr_pairs (n·Σxy − Σx·Σy) so no
#: float mean ever forms.
_RCOV_COV = (f"((({_RCOV_N}) * sxy - sx * sy)"
             f" / (({_RCOV_N}) * (({_RCOV_N}) - CAST(1 AS DOUBLE))))"
             f" / {_RCOV_QQ}")
_RCOV_CORR = (f"CASE WHEN (({_RCOV_N}) * sxx - sx * sx) > 0"
              f" AND (({_RCOV_N}) * syy - sy * sy) > 0 THEN"
              f" (({_RCOV_N}) * sxy - sx * sy)"
              f" / sqrt((({_RCOV_N}) * sxx - sx * sx)"
              f" * (({_RCOV_N}) * syy - sy * sy)) END")


def q_rolling_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling pairwise covariance AND correlation of daily returns
    over the trailing `_RCOV_W` common observations, for the top-40
    most-active keys — the multivariate seam next to the univariate
    kit: per day_ts this IS the k×k sample covariance matrix (upper
    triangle, a < b) a risk model consumes, generalizing
    `corr_pairs`' single full-sample number to the time-varying
    estimate.

    Exactness: windowed DECIMAL(38,0)/HUGEINT sums of quantized
    integer returns (Σx, Σy, Σxy, Σx², Σy² over ROWS 9 PRECEDING)
    converted to double through STRING, then ONE shared
    integer-form expression text per output — both engines run the
    identical IEEE tree on identical inputs.

    Scale shape: universe selection is a keys-sized aggregate +
    TakeOrdered(40) broadcast as a semi-join filter BEFORE the pair
    lattice forms, so the self-join expands 40×40/2 pairs per day —
    bounded by design at any corpus size (the production knob is the
    universe list, not the join). One pair-keyed exchange feeds a
    single WindowExec computing rn and all five moment sums (same
    window spec). Candidate-pruning note: for k beyond ~10⁴, prune
    pairs by factor-bucket/sector blocking before the day join —
    the moment machinery is unchanged; only the pair generator
    shrinks (same discipline as corr_pairs' docstring)."""
    d = _daily_rets(spark, sf_dir)
    uni = (d.groupBy("user_id").agg(F.count("*").alias("c"))
           .orderBy(F.desc("c"), "user_id").limit(_RCOV_UNIVERSE)
           .select("user_id"))
    d = d.join(F.broadcast(uni), "user_id")
    a = d.select(F.col("user_id").alias("user_a"), "day_ts",
                 F.col("ret_i").alias("x"))
    b = d.select(F.col("user_id").alias("user_b"), "day_ts",
                 F.col("ret_i").alias("y"))
    j = a.join(b, "day_ts").filter(F.col("user_a") < F.col("user_b"))
    wkey = W.partitionBy("user_a", "user_b").orderBy("day_ts")
    wroll = wkey.rowsBetween(-(_RCOV_W - 1), W.currentRow)

    def dws(col) -> F.Column:
        return (F.sum(col.cast(_DEC0)).over(wroll)
                .cast("string").cast("double"))

    x, y = F.col("x"), F.col("y")
    mo = j.select(
        "user_a", "user_b", "day_ts",
        F.row_number().over(wkey).alias("rn"),
        dws(x).alias("sx"), dws(y).alias("sy"),
        dws(x.cast(_DEC0) * y.cast(_DEC0)).alias("sxy"),
        dws(x.cast(_DEC0) * x.cast(_DEC0)).alias("sxx"),
        dws(y.cast(_DEC0) * y.cast(_DEC0)).alias("syy"))
    return (mo.filter(F.col("rn") >= _RCOV_W)
            .selectExpr("user_a", "user_b", "day_ts",
                        f"{_RCOV_COV} AS cov",
                        f"{_RCOV_CORR} AS corr")
            .orderBy("user_a", "user_b", "day_ts"))


_RCOV_SQL = f"""
WITH {_DAILY_RETS_CTE.strip()},
uni AS (
  SELECT user_id FROM (
    SELECT user_id, COUNT(*) AS c FROM drets GROUP BY user_id
    ORDER BY c DESC, user_id LIMIT {_RCOV_UNIVERSE})),
du AS (SELECT d.* FROM drets d JOIN uni USING (user_id)),
j AS (
  SELECT a.user_id AS user_a, b.user_id AS user_b, a.day_ts,
         a.ret_i AS x, b.ret_i AS y
  FROM du a JOIN du b ON a.day_ts = b.day_ts
                     AND a.user_id < b.user_id),
mo AS (
  SELECT user_a, user_b, day_ts,
         row_number() OVER wk AS rn,
         CAST(CAST(SUM(CAST(x AS HUGEINT)) OVER wr AS VARCHAR)
              AS DOUBLE) AS sx,
         CAST(CAST(SUM(CAST(y AS HUGEINT)) OVER wr AS VARCHAR)
              AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(x AS HUGEINT) * y) OVER wr AS VARCHAR)
              AS DOUBLE) AS sxy,
         CAST(CAST(SUM(CAST(x AS HUGEINT) * x) OVER wr AS VARCHAR)
              AS DOUBLE) AS sxx,
         CAST(CAST(SUM(CAST(y AS HUGEINT) * y) OVER wr AS VARCHAR)
              AS DOUBLE) AS syy
  FROM j
  WINDOW wk AS (PARTITION BY user_a, user_b ORDER BY day_ts),
         wr AS (PARTITION BY user_a, user_b ORDER BY day_ts
                ROWS BETWEEN {_RCOV_W - 1} PRECEDING AND CURRENT ROW))
SELECT user_a, user_b, day_ts,
       {_RCOV_COV} AS cov,
       {_RCOV_CORR} AS corr
FROM mo WHERE rn >= {_RCOV_W}
ORDER BY user_a, user_b, day_ts
"""


# ---------------------------------------------------------------------------
# Lo–MacKinlay variance-ratio test (random-walk screen: does variance
# scale linearly with horizon?)
# ---------------------------------------------------------------------------

#: Normal 97.5th percentile — the two-sided 5% critical value, shared
#: by the VR test, the runs test and the AR-order PACF band (defined
#: here, above every consumer, because the module-level oracle
#: f-strings evaluate at import).
_RUNS_Z_CRIT = 1.959963984540054

#: Aggregation horizon q. VR(q) compares the variance of q-period
#: overlapping return sums against q x the 1-period variance: a random
#: walk gives VR = 1, momentum VR > 1, mean reversion VR < 1.
_VR_Q = 4

#: Homoskedastic asymptotic variance numerator 2(2q-1)(q-1)/(3q),
#: emitted as one shared Python-repr double literal so both engines
#: parse the identical constant (a runtime arithmetic could differ in
#: op order).
_VR_ASY = 2.0 * (2 * _VR_Q - 1) * (_VR_Q - 1) / (3.0 * _VR_Q)

#: Shared final texts over the exact integer moments (n1/s1/ss1 for
#: the 1-period series, n2/s2/ss2 for the overlapping q-sums, all
#: string-path doubles). Sample variances, simple VR form (the
#: unbiased-overlap corrections change the constant, not the
#: decision; the docstring states the estimator exactly).
_VR_VAR1 = "((ss1 - s1 * s1 / n1) / (n1 - CAST(1 AS DOUBLE)))"
_VR_VARQ = "((ss2 - s2 * s2 / n2) / (n2 - CAST(1 AS DOUBLE)))"
_VR_EXPR = f"({_VR_VARQ} / (CAST({_VR_Q} AS DOUBLE) * {_VR_VAR1}))"
_VR_Z = (f"(({_VR_EXPR}) - CAST(1 AS DOUBLE))"
         f" / sqrt(CAST({_VR_ASY!r} AS DOUBLE) / n1)")
_VR_GUARD = (f"n1 > {2 * _VR_Q} AND n2 > 2"
             f" AND (ss1 - s1 * s1 / n1) > 0")


def q_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo–MacKinlay variance-ratio test per key at horizon q=4 over
    hourly returns — the random-walk screen that completes the
    diagnostics kit along a THIRD axis: Ljung–Box asks "is pooled
    autocorrelation zero?", runs asks "do signs alternate randomly?",
    VR asks "does variance scale linearly with horizon?" (the
    momentum/mean-reversion dial a stat-arb desk actually trades:
    VR > 1 momentum, VR < 1 mean reversion). Estimator: sample
    variance of OVERLAPPING q-sums over q x the 1-period sample
    variance; z under the homoskedastic null with the standard
    2(2q−1)(q−1)/(3qn) asymptotic variance.

    Exactness: the q-sum column is a windowed BIGINT/DECIMAL sum of
    quantized returns (integer-exact), both variance estimators come
    from exact integer moments via the string double path, and
    VR/z/decision are ONE shared expression text per column.

    Scale shape: one bar-sized window pass (the q-sum + rn share the
    window spec with one WindowExec) + one map-side-combined per-key
    aggregate of six exact sums — the `_lag_moment_frame` shape; no
    pair lattice, nothing quadratic anywhere."""
    rets = _rets(spark, sf_dir)
    w = bar_window()
    wq = w.rowsBetween(-(_VR_Q - 1), W.currentRow)
    wide = rets.select(
        "user_id", "ret_i",
        F.row_number().over(w).alias("rn"),
        F.sum(F.col("ret_i").cast(_DEC0)).over(wq).alias("yq"))

    def _d(e: str) -> F.Column:
        return F.expr(f"CAST(CAST(SUM(CAST({e} AS DECIMAL(38,0)))"
                      f" AS STRING) AS DOUBLE)")

    mo = wide.groupBy("user_id").agg(
        F.count("*").cast("double").alias("n1"),
        _d("ret_i").alias("s1"),
        _d("CAST(ret_i AS DECIMAL(38,0)) * ret_i").alias("ss1"),
        F.count(F.when(F.col("rn") >= _VR_Q, 1))
        .cast("double").alias("n2"),
        _d(f"CASE WHEN rn >= {_VR_Q} THEN yq END").alias("s2"),
        _d(f"CASE WHEN rn >= {_VR_Q} THEN yq * yq END").alias("ss2"))
    return (mo.where(F.expr(_VR_GUARD))
            .selectExpr(
                "user_id", "CAST(n1 AS BIGINT) AS n",
                f"{_VR_EXPR} AS vr",
                f"{_VR_Z} AS z_vr",
                f"abs({_VR_Z}) > CAST({_RUNS_Z_CRIT!r} AS DOUBLE)"
                " AS rejects_random_walk")
            .orderBy("user_id"))


_VR_SQL = f"""
WITH {_RETS_CTE.strip()},
wide AS (
  SELECT user_id, ret_i,
         row_number() OVER wk AS rn,
         SUM(CAST(ret_i AS HUGEINT)) OVER wq AS yq
  FROM rets
  WINDOW wk AS (PARTITION BY user_id ORDER BY bar_ts),
         wq AS (PARTITION BY user_id ORDER BY bar_ts
                ROWS BETWEEN {_VR_Q - 1} PRECEDING AND CURRENT ROW)),
mo AS (
  SELECT user_id,
         CAST(COUNT(*) AS DOUBLE) AS n1,
         CAST(CAST(SUM(CAST(ret_i AS HUGEINT)) AS VARCHAR)
              AS DOUBLE) AS s1,
         CAST(CAST(SUM(CAST(ret_i AS HUGEINT) * ret_i) AS VARCHAR)
              AS DOUBLE) AS ss1,
         CAST(COUNT(CASE WHEN rn >= {_VR_Q} THEN 1 END)
              AS DOUBLE) AS n2,
         CAST(CAST(SUM(CASE WHEN rn >= {_VR_Q} THEN yq END)
              AS VARCHAR) AS DOUBLE) AS s2,
         CAST(CAST(SUM(CASE WHEN rn >= {_VR_Q} THEN yq * yq END)
              AS VARCHAR) AS DOUBLE) AS ss2
  FROM wide GROUP BY user_id)
SELECT user_id, CAST(n1 AS BIGINT) AS n,
       {_VR_EXPR} AS vr,
       {_VR_Z} AS z_vr,
       abs({_VR_Z}) > CAST({_RUNS_Z_CRIT!r} AS DOUBLE)
         AS rejects_random_walk
FROM mo WHERE {_VR_GUARD}
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# Cross-sectional momentum regression (Fama–MacBeth first stage: one
# regression PER DAY across keys, not per key across time)
# ---------------------------------------------------------------------------

def q_cross_sectional_momentum(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    """Per-DAY cross-sectional regression of daily returns on the
    previous day's return (the 1-day momentum factor) — the
    Fama–MacBeth first stage, and the CROSS-SECTIONAL seam next to
    `rolling_covariance`'s time-series one: every prior regression in
    the tree runs per key across time; a factor model runs per
    timestamp across keys. gamma_d > 0 ⇒ yesterday's winners win
    again today (cross-sectional momentum); < 0 ⇒ reversal.

    Emits the PER-DAY slope/intercept rows rather than the
    second-stage time average: the average of per-day gammas is a
    cross-row float sum whose accumulation order neither engine
    pins, while each day's closed-form slope from exact integer
    moments is bit-reproducible. A caller averages the gamma column
    driver-side (days are few) or via one more exact-moment pass.

    Scale shape: one key-ordered window pass for the lag (bars-sized),
    then ONE map-side-combined groupBy(day) over exact integer
    moments — the output is days-sized. At 100 TB the cross-section
    per day is keys-wide but the aggregate is still one combine-
    friendly exchange; nothing quadratic, no per-day loop."""
    d = _daily_rets(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("day_ts")
    j = (d.withColumn("x", F.lag("ret_i").over(w))
         .filter(F.col("x").isNotNull())
         .select("day_ts", F.col("x").alias("x"),
                 F.col("ret_i").alias("y")))
    mo = j.groupBy("day_ts").agg(
        F.count("*").alias("n"),
        _s(F.col("x")).alias("sx"),
        _s(F.col("y")).alias("sy"),
        _sq(F.col("x"), F.col("y")).alias("sxy"),
        _sq(F.col("x"), F.col("x")).alias("sxx"))
    n = F.col("n")
    den = n * F.col("sxx") - F.col("sx") * F.col("sx")
    gamma = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / den
    alpha = (F.col("sy") - gamma * F.col("sx")) / n
    return (mo.filter((n >= 3) & (den != 0))
            .select("day_ts", n.alias("n_keys"),
                    gamma.alias("gamma"),
                    # intercept in integer return units scaled back
                    (alpha / F.lit(float(_Q))).alias("alpha"))
            .orderBy("day_ts"))


_XS_MOM_SQL = f"""
WITH {_DAILY_RETS_CTE.strip()},
lagged AS (
  SELECT day_ts,
         lag(ret_i) OVER (PARTITION BY user_id ORDER BY day_ts) AS x,
         ret_i AS y
  FROM drets
  QUALIFY x IS NOT NULL),
mo AS (
  SELECT day_ts, COUNT(*) AS n,
         CAST(CAST(SUM(CAST(x AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(CAST(y AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(x AS HUGEINT) * y) AS VARCHAR)
              AS DOUBLE) AS sxy,
         CAST(CAST(SUM(CAST(x AS HUGEINT) * x) AS VARCHAR)
              AS DOUBLE) AS sxx
  FROM lagged GROUP BY day_ts)
SELECT day_ts, n AS n_keys,
       (n * sxy - sx * sy) / (n * sxx - sx * sx) AS gamma,
       ((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n)
         / {float(_Q)!r} AS alpha
FROM mo
WHERE n >= 3 AND (n * sxx - sx * sx) <> 0
ORDER BY day_ts
"""


# ---------------------------------------------------------------------------
# Wald–Wolfowitz runs test (nonparametric randomness screen)
# ---------------------------------------------------------------------------

#: z = (R − E[R]) / √Var[R] with E = 2·n1·n2/n + 1 and
#: Var = 2·n1·n2·(2·n1·n2 − n)/(n²·(n−1)), n = n1+n2 — one shared
#: expression text over exact integer inputs (n1, n2, r).
_RUNS_Z = ("(CAST(r AS DOUBLE) - (CAST(2 AS DOUBLE) * n1 * n2"
           " / CAST(n1 + n2 AS DOUBLE) + CAST(1 AS DOUBLE)))"
           " / sqrt(CAST(2 AS DOUBLE) * n1 * n2"
           "        * (CAST(2 AS DOUBLE) * n1 * n2 - n1 - n2)"
           "        / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)"
           "           * CAST(n1 + n2 - 1 AS DOUBLE)))")


def q_runs_test_randomness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test per key over return SIGNS — the
    nonparametric randomness screen next to `ljung_box_whiteness`
    (LB asks "is the pooled autocorrelation zero?", runs asks "do up
    and down moves alternate like coin flips?" — it catches sign
    clustering and over-alternation that a small pooled Q can miss,
    with no distributional assumption on magnitudes).

    Everything before the final z is EXACT integer counting: signs
    from signum of the quantized return (zeros dropped, as the test
    requires), run count R = 1 + Σ(sign_t ≠ sign_{t−1}) via one lag
    window, n1/n2 one conditional count each. z and the two-sided 5%
    decision are one shared expression text over those integers —
    identical IEEE sequence both engines.

    Scale shape: one bar-sized window pass + one per-key aggregate;
    no pair lattice, no second shuffle class."""
    rets = _rets(spark, sf_dir)
    signed = (rets.select("user_id", "bar_ts",
                          F.signum(F.col("ret_i").cast("double"))
                          .cast("int").alias("sgn"))
              .filter(F.col("sgn") != 0))
    w = W.partitionBy("user_id").orderBy("bar_ts")
    flagged = signed.withColumn(
        "chg", F.when(F.lag("sgn").over(w).isNull(), 0)
                .when(F.lag("sgn").over(w) != F.col("sgn"), 1)
                .otherwise(0))
    mo = (flagged.groupBy("user_id")
          .agg(F.sum(F.when(F.col("sgn") > 0, 1).otherwise(0))
               .cast("long").alias("n1"),
               F.sum(F.when(F.col("sgn") < 0, 1).otherwise(0))
               .cast("long").alias("n2"),
               (F.sum("chg") + 1).cast("long").alias("r")))
    # Var > 0 ⇔ 2·n1·n2 > n1+n2; without it z divides by zero (NULL
    # in non-ANSI Spark vs ±inf in DuckDB — an engine mismatch).
    return (mo.where((F.col("n1") > 0) & (F.col("n2") > 0)
                     & (2 * F.col("n1") * F.col("n2")
                        > F.col("n1") + F.col("n2")))
            .select("user_id", "n1", "n2", "r",
                    F.expr(_RUNS_Z).alias("z_runs"),
                    F.expr(f"abs({_RUNS_Z})"
                           f" > CAST({_RUNS_Z_CRIT!r} AS DOUBLE)")
                    .alias("non_random"))
            .orderBy("user_id"))


_RUNS_SQL = f"""
WITH {_RETS_CTE.strip()},
signed AS (
  SELECT user_id, bar_ts, CAST(sign(ret_i) AS INT) AS sgn
  FROM rets WHERE ret_i <> 0),
flagged AS (
  SELECT user_id, sgn,
         CASE WHEN lag(sgn) OVER (PARTITION BY user_id ORDER BY bar_ts)
                   IS NULL THEN 0
              WHEN lag(sgn) OVER (PARTITION BY user_id ORDER BY bar_ts)
                   <> sgn THEN 1
              ELSE 0 END AS chg
  FROM signed),
mo AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN sgn > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN sgn < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(SUM(chg) + 1 AS BIGINT) AS r
  FROM flagged GROUP BY user_id)
SELECT user_id, n1, n2, r, {_RUNS_Z} AS z_runs,
       abs({_RUNS_Z}) > CAST({_RUNS_Z_CRIT!r} AS DOUBLE) AS non_random
FROM mo WHERE n1 > 0 AND n2 > 0 AND 2 * n1 * n2 > n1 + n2
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# SMA-crossover strategy backtest (vectorized PnL over the bar series)
# ---------------------------------------------------------------------------

#: Fast/slow SMA spans for the crossover rule.
_BT_FAST, _BT_SLOW = 5, 20


def q_sma_crossover_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized strategy backtest — the step after the reference's
    indicator dashboard (`streamlit_app/streamlit_app.py:165-265`
    computes the signals; a user's next question is "what would
    trading them have earned"): long 1 unit while SMA(5) > SMA(20),
    flat otherwise, positions effective one bar AFTER the signal (no
    look-ahead), PnL in price points per bar held. Output per key:
    bars, trades (signal flips), bars held long, strategy PnL and the
    buy-and-hold PnL benchmark over the same bars.

    Scale shape: two rolling means + two lags on ONE per-key window
    layout (a single hash exchange over the staged bar relation),
    then a per-key rollup — the whole backtest is two shuffles at any
    corpus size, the textbook vectorized-backtest plan (position
    series × return series, no event loop).

    Exactness: the SMAs are decimal-exact means (identical doubles on
    both engines, so the `fast > slow` comparison is deterministic);
    PnL terms position·(close − prev_close) are double products of
    identical inputs summed through DECIMAL(25,6) (functions.dsum);
    trade/hold counters are pure integers (oracle CASTs to BIGINT —
    the DuckDB SUM(int)→HUGEINT class)."""
    from .indicators import _rolling_mean

    bars = ohlc_bars(spark, sf_dir)
    w = bar_window()
    fast = _rolling_mean(F.col("close"), w, _BT_FAST)
    slow = _rolling_mean(F.col("close"), w, _BT_SLOW)
    sig = (bars
           .withColumn("fast", fast).withColumn("slow", slow)
           .withColumn("signal",
                       F.when(F.col("fast") > F.col("slow"), 1)
                       .otherwise(0)))
    pos = (sig
           .withColumn("position", F.lag("signal", 1, 0).over(w))
           .withColumn("prev_close", F.lag("close").over(w)))
    delta = F.col("close") - F.col("prev_close")
    return (pos.groupBy("user_id")
            .agg(F.count("*").alias("n_bars"),
                 F.sum(F.when(F.col("signal") != F.col("position"), 1)
                       .otherwise(0)).alias("n_trades"),
                 F.sum("position").alias("bars_long"),
                 dsum(F.col("position") * delta).alias("strategy_pnl"),
                 dsum(delta).alias("buy_hold_pnl"))
            .orderBy("user_id"))


def _backtest_sql() -> str:
    from .indicators import _rolling_mean_sql

    over = "PARTITION BY user_id ORDER BY bar_ts"
    return f"""
WITH {BARS_CTE},
ind AS (
  SELECT user_id, bar_ts, close,
         {_rolling_mean_sql('close', _BT_FAST, f'({over})')} AS fast,
         {_rolling_mean_sql('close', _BT_SLOW, f'({over})')} AS slow
  FROM bars),
sig AS (
  SELECT *, CASE WHEN fast > slow THEN 1 ELSE 0 END AS signal FROM ind),
pos AS (
  SELECT *, lag(signal, 1, 0) OVER ({over}) AS position,
         lag(close) OVER ({over}) AS prev_close
  FROM sig)
SELECT user_id, COUNT(*) AS n_bars,
       CAST(SUM(CASE WHEN signal <> position THEN 1 ELSE 0 END)
            AS BIGINT) AS n_trades,
       CAST(SUM(position) AS BIGINT) AS bars_long,
       {dsum_sql('position * (close - prev_close)')} AS strategy_pnl,
       {dsum_sql('close - prev_close')} AS buy_hold_pnl
FROM pos GROUP BY user_id ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# Amihud illiquidity (price impact per unit volume)
# ---------------------------------------------------------------------------

def q_amihud_illiq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Amihud (2002, public) illiquidity: ILLIQ = mean(|ret| /
    volume) per key — how much price moves per unit traded, THE
    standard price-impact proxy when order-book depth is not
    observable; the liquidity screen a strategy runs before sizing
    positions. One per-key aggregate over the shared quantized return
    series. Exactness: the per-row impact is quantized to INTEGER
    micro-units map-side (|ret_i|·10⁶ div volume — pure integer
    arithmetic, bit-identical on both engines; a DECIMAL cast of the
    raw double ratio would expose the Spark-vs-DuckDB tie-rounding
    class), so the sum is exact and the double math happens once on
    identical inputs at the end. volume ≥ 1 by construction (a bar
    exists only if events do), so the integer division is total."""
    rets = _rets(spark, sf_dir)
    imp_i = F.expr("(abs(ret_i) * 1000000) div volume")
    out = (rets.groupBy("user_id")
           .agg(F.count("*").alias("n"),
                F.sum(imp_i.cast("decimal(38,0)")).alias("si")))
    illiq = (F.col("si").cast("double") / F.col("n")
             / F.lit(float(_Q) * 1e6))
    return (out.select("user_id", "n", illiq.alias("illiq"))
            .orderBy("user_id"))


_AMIHUD_SQL = f"""
WITH {_RETS_CTE.strip()}
SELECT user_id, COUNT(*) AS n,
       CAST(CAST(SUM((abs(ret_i) * 1000000) // volume) AS VARCHAR)
            AS DOUBLE)
         / COUNT(*) / {float(_Q) * 1e6} AS illiq
FROM rets GROUP BY user_id ORDER BY user_id
"""


QUERIES = {
    "volume_profile": (q_volume_profile, _VOLUME_PROFILE_SQL),
    "amihud_illiq": (q_amihud_illiq, _AMIHUD_SQL),
    "drawdown_duration": (q_drawdown_duration, _DRAWDOWN_DURATION_SQL),
    "vwap_daily": (q_vwap_daily, _VWAP_SQL),
    "max_drawdown": (q_max_drawdown, _MAX_DRAWDOWN_SQL),
    "realized_volatility": (q_realized_volatility, _REALIZED_VOL_SQL),
    "beta_vs_market": (q_beta_vs_market, _BETA_SQL),
    "corr_pairs": (q_corr_pairs, _CORR_PAIRS_SQL),
    "var_cvar": (q_var_cvar, _VAR_CVAR_SQL),
    "return_autocorr": (q_return_autocorr, _AUTOCORR_SQL),
    "acf_multi_lag": (q_acf_multi_lag, _ACF_SQL),
    "ljung_box_whiteness": (q_ljung_box_whiteness, _lb_sql()),
    "runs_test_randomness": (q_runs_test_randomness, _RUNS_SQL),
    "pacf_durbin_levinson": (q_pacf_durbin_levinson, _pacf_sql()),
    "ar_order_select": (q_ar_order_select, _ar_order_sql()),
    "rolling_covariance": (q_rolling_covariance, _RCOV_SQL),
    "variance_ratio": (q_variance_ratio, _VR_SQL),
    "cross_sectional_momentum": (q_cross_sectional_momentum,
                                 _XS_MOM_SQL),
    "sma_crossover_backtest": (q_sma_crossover_backtest, _backtest_sql()),
}
