"""The ewm family (SURVEY §2.E1, E4, E5, E6): EMA, TSI, MACD, ADX.

pandas `ewm(span/alpha, adjust=False).mean()` is the one reference
computation with no Spark SQL builtin (SURVEY §4). The scalable
expression: hash-shuffle on the key, sort within partitions, then ONE
`mapInPandas` pass per partition with accumulator state carried across
Arrow batches (see `_apply_ewm`). Partition-parallel across executors,
O(rows) in Python, and — unlike `groupBy(key).applyInPandas` — free of
per-group pandas overhead, which dominates when keys are small and
numerous (measured 5× faster at sf0.1's 1 500 keys; the gap widens
with key count, which is exactly the 100 TB regime).

Exactness contract (what the DuckDB oracle replays):

* recurrence `acc := acc + alpha * (x - acc)`, seeded with the first
  valid value — algebraically pandas' adjust=False form
  `y_t = (1-alpha)*y_{t-1} + alpha*x_t` and bit-identical to DuckDB's
  `list_reduce(l, (acc, x) -> acc + alpha*(x - acc))` (verified over
  the full sf0.01 series: 0 bit mismatches);
* NULL inputs are skipped, the accumulator carries through (mirrors
  `list_filter(l, v -> v IS NOT NULL)` in the oracle); positions
  before the first valid input are NULL;
* rolling means inside ADX go through Spark Window + decimal-exact
  sums, NOT the kernel, so they too match the oracle bit-for-bit;
* zero denominators yield NULL on both engines (pandas would give
  ±inf; deviation documented — the reference never guards it).

alpha literals are written as the same division expression on both
sides (`2.0/(span+1.0)`, `1.0/window`) so the doubles agree.

Per-key recurrences are written once, as a step

    step(state, cols) -> (state, out)

where ``cols`` maps input names to one key's rows in order (numpy
arrays) and ``out`` holds only the computed columns. Two runners drive
the same step: :func:`keyed_scan` (batch, one `mapInPandas` pass over a
key-partitioned, key-sorted frame, state carried across Arrow batches)
and ``streaming.state._keyed_state`` (stream, state checkpointed per
key). Steps defined here: :func:`_ewm_step` (EMA: `_apply_ewm`, the
stream EMA and ATR smoothing, channels' TRIX / mass index),
:func:`_holt_step` (holt_forecast, forecast_anomalies /
forecast_backtest via :func:`_anomaly_step`, stream Holt),
:func:`_hw_step` (holt_winters) and :func:`_kalman_step`
(kalman_level, stream Kalman). Every per-key batch kernel in this
module and in channels.py runs on ``keyed_scan``. A recurrence that is
element-wise across keys may also hand the runner a `dense` form that
steps all keys of a batch at once (:func:`_ewm_dense`,
:func:`_hw_dense`, :func:`_kalman_dense`); the runner alone decides, per batch, whether
the dense form or the per-key step runs (:func:`_dense_layout_ok`).
"""

from __future__ import annotations

import math
from collections.abc import Iterable

import numpy as np

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions import DEC
from ..tables import keyed_repartition, load_table
from .transforms import BARS_CTE, bar_window, ohlc_bars

_ORACLE_KEY_WINDOW = (
    "(PARTITION BY user_id ORDER BY ts, event_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
_ORACLE_BAR_WINDOW = (
    "(PARTITION BY user_id ORDER BY bar_ts "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")


def ewm_mean(values: Iterable[float], alpha: float) -> np.ndarray:
    """pandas ewm(adjust=False).mean() with skip-NaN-carry semantics.

    Plain Python loop over float64 — IEEE ops in recurrence order, so
    the result is bit-identical to the oracle's list_reduce. O(n) per
    key; keys are independent, so this parallelizes across executors.
    """
    out = np.empty(len(values), dtype=np.float64)
    acc = math.nan
    started = False
    for i, x in enumerate(values):
        if x is None or (isinstance(x, float) and math.isnan(x)):
            out[i] = acc if started else math.nan
            continue
        if not started:
            acc = float(x)
            started = True
        else:
            acc = acc + alpha * (float(x) - acc)
        out[i] = acc
    return out


def _ewm_sql(expr: str, alpha_expr: str, over: str) -> str:
    """DuckDB mirror of :func:`ewm_mean` (NULL-skipping reduce)."""
    return (
        f"CASE WHEN COUNT({expr}) OVER {over} > 0 THEN "
        f"list_reduce(list_filter(list({expr}) OVER {over}, v -> v IS NOT NULL), "
        f"(acc, v) -> acc + ({alpha_expr}) * (v - acc)) END")


def _ddl(df: DataFrame) -> str:
    """`df`'s schema as a DDL field list, for kernel output schemas."""
    return ", ".join(f"{f.name} {f.dataType.simpleString()}"
                     for f in df.schema.fields)


def _ewm_init(n: int) -> tuple[list[float], list[bool]]:
    """:func:`_ewm_step` state for `n` specs before a key's first row."""
    return [math.nan] * n, [False] * n


def _apply_ewm(df: DataFrame, order_cols: list[str], value_cols: dict[str, tuple[str, float]],
               assume_sorted: bool = False) -> DataFrame:
    """Add one EMA column per entry of value_cols {out_name: (in_name,
    alpha)}, per ``user_id`` in (user_id, *order_cols) order.

    Physical shape: ONE hash shuffle on the key + in-partition sort,
    then :func:`keyed_scan` runs :func:`_ewm_step` (or its dense form,
    :func:`_ewm_dense`) in a single `mapInPandas` pass over each
    partition. This beats `groupBy(key).applyInPandas` by ~5× here:
    with thousands of small keys the per-group pandas-object overhead
    dominates, while a partition-wide pass costs O(rows) regardless of
    key count. At 100 TB the same plan holds: one exchange, Python
    touches each row once, no driver involvement.

    Set `assume_sorted=True` when the input is already hash-partitioned
    by the key and sorted by (key, *order_cols) within partitions — true
    after a Window stage over the same key/order, or after a previous
    `_apply_ewm` (mapInPandas preserves in-partition row order) — to
    skip the redundant exchange+sort entirely.

    NaN outputs are surfaced as NULL (nanvl) to match the oracle."""
    specs = [(dst, src, alpha) for dst, (src, alpha) in value_cols.items()]
    out_fields = ", ".join(f"{name} double" for name in value_cols)
    if assume_sorted:
        staged = df
    else:
        # Width scales with input bytes (r11, guide §5): identical
        # plan at fixture scale, bounded partition bytes at 100 TB.
        staged = keyed_repartition(df, "user_id").sortWithinPartitions(
            "user_id", *order_cols)
    res = keyed_scan(staged, _ewm_step(specs), init=_ewm_init(len(specs)),
                     cols=list(dict.fromkeys(src for _, src, _ in specs)),
                     schema=f"{_ddl(df)}, {out_fields}",
                     dense=_ewm_dense(specs))
    for out_name in value_cols:
        res = res.withColumn(out_name, F.nanvl(F.col(out_name), F.lit(None)))
    return res


def keyed_scan(staged: DataFrame, step, *, init, cols: list[str],
               schema: str, dense=None) -> DataFrame:
    """Run the per-key `step` (module docstring) over `staged` in ONE
    `mapInPandas` pass — the batch twin of
    ``streaming.state._keyed_state``.

    `staged` must already be hash-partitioned on ``user_id`` and sorted
    by (user_id, order) within partitions; the caller stages it, so the
    plan is exactly the caller's. Per Arrow batch the runner finds the
    contiguous key segments and hands each one to `step` as ``cols``
    (float64 arrays, NULL as NaN). A segment continues the state carried
    from the previous batch when it continues that batch's last key, and
    starts from `init` otherwise. The step's columns are added to the
    batch, which is then projected onto `schema`'s fields, so
    passthrough columns (key, order, price) come from the input.

    `dense(state, bounds, cols) -> (out, state)`, when given, runs the
    same recurrence over all segments of a batch at once (segment i is
    rows bounds[i]:bounds[i+1]; `state` is the first segment's, the
    returned one the last segment's). The runner uses it for every batch
    whose layout :func:`_dense_layout_ok` allows and the step otherwise;
    both must give bit-identical output."""
    names = StructType.fromDDL(schema).fieldNames()
    return staged.mapInPandas(_scan_kernel(step, init, cols, names, dense),
                              schema=schema)


def _scan_kernel(step, init, cols: list[str], names: list[str], dense=None):
    """The partition function :func:`keyed_scan` hands to mapInPandas
    (module level so tests can drive it with synthetic batch splits)."""

    def kernel(batches):
        carry_key, carry = None, init
        for pdf in batches:
            if len(pdf) == 0:
                continue
            keys = pdf["user_id"].to_numpy()
            arrays = {c: pdf[c].to_numpy(dtype=np.float64, na_value=np.nan)
                      for c in cols}
            bounds = _segment_bounds(keys)
            state = carry if keys[0] == carry_key else init
            if dense is not None and _dense_layout_ok(
                    len(keys), len(bounds) - 1, int(np.diff(bounds).max())):
                outs, carry = dense(state, bounds, arrays)
            else:
                outs, carry = _scan_segments(step, init, state, bounds, arrays)
            carry_key = keys[-1]
            yield pdf.assign(**outs)[names]

    return kernel


def _segment_bounds(keys: np.ndarray) -> np.ndarray:
    """[0, start of each later key run, len(keys)] for a key-sorted
    batch: segment i is rows bounds[i]:bounds[i+1]."""
    return np.concatenate(
        ([0], np.nonzero(keys[1:] != keys[:-1])[0] + 1, [len(keys)]))


def _scan_segments(step, init, state, bounds: np.ndarray,
                   cols: dict[str, np.ndarray]):
    """Run `step` once per key segment of one batch: the first segment
    starts from `state`, every later one from `init`. Returns the
    concatenated output columns and the last segment's state."""
    bounds = bounds.tolist()
    parts = []
    for i, (a, b) in enumerate(zip(bounds, bounds[1:])):
        state, out = step(state if i == 0 else init,
                          {c: v[a:b] for c, v in cols.items()})
        parts.append(out)
    return {c: np.concatenate([p[c] for p in parts]) for c in parts[0]}, state


def _dense_layout_ok(n: int, n_segs: int, max_len: int) -> bool:
    """Guard for the across-key matrix layout: a (segments × max_len)
    NaN-padded matrix is O(segments · longest-segment) cells, which
    under SKEWED per-key lengths (one 50k-row key + 10k singleton
    keys) blows up quadratically where the scalar loop is O(n). Allow
    the dense path when padding waste is bounded (≤4× the real rows)
    or the matrix is small outright; otherwise :func:`keyed_scan` runs
    the per-key step (bit-identical either way — the step IS the
    reference loop the property tests pin against)."""
    cells = n_segs * max_len
    return cells <= max(4 * n, 1 << 16)


def _segment_grid(bounds: np.ndarray):
    """Row -> (segment, in-segment position) indices into the
    (segments × max_len) layout of a batch, plus max_len."""
    starts = bounds[:-1]
    seg_of_row = np.repeat(np.arange(len(starts)), np.diff(bounds))
    return (seg_of_row, np.arange(bounds[-1]) - starts[seg_of_row],
            int(np.diff(bounds).max()))


def _ewm_step(specs: list[tuple[str, str, float]]):
    """EMA step for specs [(out, src, alpha)]: the recurrence
    ``acc := acc + alpha*(x - acc)``, seeded with the first valid
    value; NaN inputs carry the accumulator, positions before the seed
    are NaN (the op order of :func:`ewm_mean`). `src` may name an
    earlier spec's output (chained EMAs). State: ([acc], [started]),
    one entry per spec."""

    def step(state, cols):
        accs, started = list(state[0]), list(state[1])
        out = {}
        for j, (dst, src, alpha) in enumerate(specs):
            acc, on = accs[j], started[j]
            xs = (out[src] if src in out else cols[src]).tolist()
            res = np.empty(len(xs), dtype=np.float64)
            for i, x in enumerate(xs):
                if math.isnan(x):
                    res[i] = acc if on else math.nan
                    continue
                if on:
                    acc = acc + alpha * (x - acc)
                else:
                    acc, on = x, True
                res[i] = acc
            accs[j], started[j] = acc, on
            out[dst] = res
        return (accs, started), out

    return step


def _ewm_dense(specs: list[tuple[str, str, float]]):
    """Dense form of :func:`_ewm_step` for :func:`keyed_scan` (specs
    read input columns only; same state).

    Vectorization (r7): the EMA update is element-wise, so per Arrow
    batch the contiguous key segments are laid out as a
    (segments × max_len) NaN-padded matrix and the recurrence steps
    once per IN-SERIES POSITION across all keys simultaneously —
    max_len vector steps instead of one Python iteration per row.
    Every element still sees the exact scalar op sequence
    (`acc + α(x−acc)`, seed-at-first-valid, NaN keeps the
    accumulator), so outputs are BIT-IDENTICAL to :func:`ewm_mean` —
    property-tested in tests/test_pandas_parity.py with random NaN
    patterns and batch splits. Series length is ~constant while key
    count scales with data (TESTDATA.md), so batches stay wide and
    the step count flat: the ewm family's former 100 TB CPU cliff
    (r6 verdict item 4) drops to ~1/10th the Python-interpreter work."""

    def dense(state, bounds, cols):
        seg_of_row, pos_of_row, max_len = _segment_grid(bounds)
        n_segs = len(bounds) - 1
        outs, accs, started_last = {}, [], []
        for j, (dst, src, alpha) in enumerate(specs):
            xmat = np.full((n_segs, max_len), np.nan)
            xmat[seg_of_row, pos_of_row] = cols[src]
            rmat = np.empty_like(xmat)
            acc = np.full(n_segs, np.nan)
            started = np.zeros(n_segs, dtype=bool)
            acc[0], started[0] = state[0][j], state[1][j]
            for t in range(max_len):
                x = xmat[:, t]
                valid = ~np.isnan(x)
                upd = acc + alpha * (x - acc)
                acc = np.where(valid, np.where(started, upd, x), acc)
                started = started | valid
                rmat[:, t] = acc
            accs.append(float(acc[-1]))
            started_last.append(bool(started[-1]))
            outs[dst] = rmat[seg_of_row, pos_of_row]
        return outs, (accs, started_last)

    return dense


def _series(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (load_table(spark, sf_dir, "events")
            .select("user_id", "event_id", "ts", F.col("value").alias("close")))


# ---------------------------------------------------------------------------
# E1 — EMA(5), EMA(15)
# ---------------------------------------------------------------------------

def q_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`streamlit_app/streamlit_app.py:165-166` (spans 5 and 15,
    called at :346-347)."""
    s = _series(spark, sf_dir)
    return _apply_ewm(
        s, ["ts", "event_id"],
        {"ema_5": ("close", 2.0 / (5.0 + 1.0)),
         "ema_15": ("close", 2.0 / (15.0 + 1.0))})


_EMA_SQL = f"""
SELECT user_id, event_id, ts, value AS close,
       {_ewm_sql('value', '2.0/(5.0+1.0)', _ORACLE_KEY_WINDOW)} AS ema_5,
       {_ewm_sql('value', '2.0/(15.0+1.0)', _ORACLE_KEY_WINDOW)} AS ema_15
FROM events
"""


# ---------------------------------------------------------------------------
# E5 — MACD(12, 26, 9)
# ---------------------------------------------------------------------------

def q_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`streamlit_app/streamlit_app.py:186-191`: macd = ema12 − ema26;
    signal = ewm9 of the macd series (chained ewm — second kernel pass
    over the derived column)."""
    s = _series(spark, sf_dir)
    s = _apply_ewm(
        s, ["ts", "event_id"],
        {"ema_12": ("close", 2.0 / (12.0 + 1.0)),
         "ema_26": ("close", 2.0 / (26.0 + 1.0))})
    s = s.withColumn("macd", F.col("ema_12") - F.col("ema_26"))
    # The projection preserves the first kernel's (key, ts) layout —
    # chain the second kernel with no second shuffle.
    s = _apply_ewm(s, ["ts", "event_id"],
                   {"macd_signal": ("macd", 2.0 / (9.0 + 1.0))},
                   assume_sorted=True)
    return s.select("user_id", "event_id", "ts", "close", "macd", "macd_signal")


_MACD_SQL = f"""
WITH m AS (
  SELECT user_id, event_id, ts, value AS close,
         {_ewm_sql('value', '2.0/(12.0+1.0)', _ORACLE_KEY_WINDOW)}
           - {_ewm_sql('value', '2.0/(26.0+1.0)', _ORACLE_KEY_WINDOW)} AS macd
  FROM events)
SELECT user_id, event_id, ts, close, macd,
       {_ewm_sql('macd', '2.0/(9.0+1.0)', _ORACLE_KEY_WINDOW)} AS macd_signal
FROM m
"""


# ---------------------------------------------------------------------------
# E4 — TSI(25, 13)
# ---------------------------------------------------------------------------

def q_tsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`streamlit_app/streamlit_app.py:178-184`: double-smoothed diff
    over double-smoothed |diff|, ×100. diff is NULL on each key's first
    row; the kernel skips it (seed = second row), as does the oracle's
    list_filter."""
    s = _series(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = s.withColumn("d", F.col("close") - F.lag("close").over(w))
    s = s.withColumn("ad", F.abs(F.col("d")))
    # The lag Window already hash-partitioned by user_id and sorted by
    # (user_id, ts, event_id); both kernels ride that layout shuffle-free.
    s = _apply_ewm(s, ["ts", "event_id"],
                   {"d_e25": ("d", 2.0 / (25.0 + 1.0)),
                    "ad_e25": ("ad", 2.0 / (25.0 + 1.0))},
                   assume_sorted=True)
    s = _apply_ewm(s, ["ts", "event_id"],
                   {"d_e25_13": ("d_e25", 2.0 / (13.0 + 1.0)),
                    "ad_e25_13": ("ad_e25", 2.0 / (13.0 + 1.0))},
                   assume_sorted=True)
    return (
        s.withColumn(
            "tsi",
            F.lit(100.0) * (F.col("d_e25_13")
                            / F.nullif(F.col("ad_e25_13"), F.lit(0.0))))
        .select("user_id", "event_id", "ts", "close", "tsi")
    )


_TSI_SQL = f"""
WITH d AS (
  SELECT user_id, event_id, ts, value AS close,
         value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS d,
         abs(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS ad
  FROM events),
e1 AS (
  SELECT user_id, event_id, ts, close,
         {_ewm_sql('d', '2.0/(25.0+1.0)', _ORACLE_KEY_WINDOW)} AS d_e25,
         {_ewm_sql('ad', '2.0/(25.0+1.0)', _ORACLE_KEY_WINDOW)} AS ad_e25
  FROM d)
SELECT user_id, event_id, ts, close,
       100.0 * ({_ewm_sql('d_e25', '2.0/(13.0+1.0)', _ORACLE_KEY_WINDOW)}
                / nullif({_ewm_sql('ad_e25', '2.0/(13.0+1.0)', _ORACLE_KEY_WINDOW)}, 0.0)) AS tsi
FROM e1
"""


# ---------------------------------------------------------------------------
# E6 — ADX(14), reference's non-standard variant
# ---------------------------------------------------------------------------

def q_adx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`streamlit_app/streamlit_app.py:193-204`, replicated AS WRITTEN
    including the non-standard −DM mask (`low.diff()` with
    `(low_diff > high_diff) & (low_diff > 0)`; standard ADX uses
    −low.diff() — SURVEY §2.E6 documents the deviation).

    Hybrid plan: diffs/TR/ATR/DX-rolling are Window expressions
    (decimal-exact); the three ewm recurrences run in the grouped
    kernel. Two kernel passes, both on the already-shuffled key.
    """
    bars = ohlc_bars(spark, sf_dir)
    w = bar_window()
    bars = (
        bars.withColumn("high_diff", F.col("high") - F.lag("high").over(w))
        .withColumn("low_diff", F.col("low") - F.lag("low").over(w))
        .withColumn("prev_close", F.lag("close").over(w))
    )
    bars = (
        bars.withColumn(
            "plus_dm",
            F.when((F.col("high_diff") > F.col("low_diff"))
                   & (F.col("high_diff") > 0), F.col("high_diff"))
            .otherwise(F.lit(0.0)))
        .withColumn(
            "minus_dm",
            F.when((F.col("low_diff") > F.col("high_diff"))
                   & (F.col("low_diff") > 0), F.col("low_diff"))
            .otherwise(F.lit(0.0)))
        # pandas row-wise max skips NaN: first row TR = high - low.
        .withColumn(
            "tr",
            F.greatest(
                F.col("high") - F.col("low"),
                F.coalesce(F.abs(F.col("high") - F.col("prev_close")),
                           F.lit(float("-inf"))),
                F.coalesce(F.abs(F.col("low") - F.col("prev_close")),
                           F.lit(float("-inf")))))
    )
    w14 = w.rowsBetween(-13, 0)
    atr = F.when(F.count("tr").over(w14) == 14,
                 F.sum(F.col("tr").cast(DEC)).over(w14).cast("double")
                 / F.count("tr").over(w14))
    bars = bars.withColumn("atr", atr)
    alpha = 1.0 / 14.0
    # The atr Window stage leaves data hash(user_id)-partitioned and
    # (user_id, bar_ts)-sorted — kernel 1 needs no shuffle. Project to
    # the 6 columns the kernel and the rest of the query actually use
    # BEFORE the Python boundary (guide §4.1: mapInPandas ships every
    # column it is given, both directions — high/low/diffs/tr/volume
    # would cross twice for nothing); a select changes neither the
    # partitioning nor the in-partition order assume_sorted relies on.
    bars = bars.select("user_id", "bar_ts", "close",
                       "plus_dm", "minus_dm", "atr")
    bars = _apply_ewm(bars, ["bar_ts"],
                      {"pdm_e": ("plus_dm", alpha), "mdm_e": ("minus_dm", alpha)},
                      assume_sorted=True)
    bars = (
        bars.withColumn("plus_di",
                        F.lit(100.0) * (F.col("pdm_e")
                                        / F.nullif(F.col("atr"), F.lit(0.0))))
        .withColumn("minus_di",
                    F.lit(100.0) * (F.col("mdm_e")
                                    / F.nullif(F.col("atr"), F.lit(0.0))))
        .withColumn(
            "dx_base",
            F.lit(100.0) * F.abs(F.col("plus_di") - F.col("minus_di"))
            / F.nullif(F.col("plus_di") + F.col("minus_di"), F.lit(0.0)))
    )
    w14b = bar_window().rowsBetween(-13, 0)
    dx = F.when(F.count("dx_base").over(w14b) == 14,
                F.sum(F.col("dx_base").cast(DEC)).over(w14b).cast("double")
                / F.count("dx_base").over(w14b))
    bars = bars.withColumn("dx", dx)
    # The dx rolling Window re-established the sorted layout. Same
    # §4.1 projection before kernel 2: only (key, order, dx, close)
    # cross the boundary.
    bars = bars.select("user_id", "bar_ts", "close", "dx")
    bars = _apply_ewm(bars, ["bar_ts"], {"adx": ("dx", alpha)},
                      assume_sorted=True)
    return bars.select("user_id", "bar_ts", "close", "adx")


_ADX_SQL = f"""
WITH {BARS_CTE},
diffs AS (
  SELECT user_id, bar_ts, close, high, low,
         high - lag(high) OVER w AS high_diff,
         low - lag(low) OVER w AS low_diff,
         lag(close) OVER w AS prev_close
  FROM bars
  WINDOW w AS (PARTITION BY user_id ORDER BY bar_ts)),
dm AS (
  SELECT user_id, bar_ts, close,
         CASE WHEN high_diff > low_diff AND high_diff > 0
              THEN high_diff ELSE 0.0 END AS plus_dm,
         CASE WHEN low_diff > high_diff AND low_diff > 0
              THEN low_diff ELSE 0.0 END AS minus_dm,
         greatest(high - low,
                  COALESCE(abs(high - prev_close), '-infinity'::DOUBLE),
                  COALESCE(abs(low - prev_close), '-infinity'::DOUBLE)) AS tr
  FROM diffs),
smoothed AS (
  SELECT user_id, bar_ts, close,
         CASE WHEN COUNT(tr) OVER w14 = 14 THEN
           CAST(SUM(CAST(tr AS DECIMAL(25,6))) OVER w14 AS DOUBLE)
             / COUNT(tr) OVER w14 END AS atr,
         {_ewm_sql('plus_dm', '1.0/14.0', _ORACLE_BAR_WINDOW)} AS pdm_e,
         {_ewm_sql('minus_dm', '1.0/14.0', _ORACLE_BAR_WINDOW)} AS mdm_e
  FROM dm
  WINDOW w14 AS (PARTITION BY user_id ORDER BY bar_ts
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
di AS (
  SELECT user_id, bar_ts, close,
         100.0 * (pdm_e / nullif(atr, 0.0)) AS plus_di,
         100.0 * (mdm_e / nullif(atr, 0.0)) AS minus_di
  FROM smoothed),
dxb AS (
  SELECT user_id, bar_ts, close,
         100.0 * abs(plus_di - minus_di)
           / nullif(plus_di + minus_di, 0.0) AS dx_base
  FROM di),
dxr AS (
  SELECT user_id, bar_ts, close,
         CASE WHEN COUNT(dx_base) OVER w14 = 14 THEN
           CAST(SUM(CAST(dx_base AS DECIMAL(25,6))) OVER w14 AS DOUBLE)
             / COUNT(dx_base) OVER w14 END AS dx
  FROM dxb
  WINDOW w14 AS (PARTITION BY user_id ORDER BY bar_ts
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
SELECT user_id, bar_ts, close,
       {_ewm_sql('dx', '1.0/14.0', _ORACLE_BAR_WINDOW)} AS adx
FROM dxr
"""


# ---------------------------------------------------------------------------
# Holt linear-trend forecast (coupled two-state recurrence)
# ---------------------------------------------------------------------------

#: Holt smoothing constants (level, trend) and forecast horizons.
_HOLT_A = 0.2
_HOLT_B = 0.1
_HOLT_H = (1, 2, 3)
#: Holt step state (level, trend, started) before a key's first row.
_HOLT_INIT = (math.nan, math.nan, False)


def _holt_step(a: float, b_const: float):
    """Holt step over ``cols["close"]``: the first row seeds
    (level, trend) = (y, 0); every later row runs
    ``l2 = a*y + (1-a)*(l+b); b = b_const*(l2-l) + (1-b_const)*b``
    in that op order (the recursive-CTE oracle's). Emits holt_level,
    holt_trend per row."""

    def step(state, cols):
        lvl, trend, started = state
        ys = cols["close"].tolist()
        out_l = np.empty(len(ys), dtype=np.float64)
        out_b = np.empty(len(ys), dtype=np.float64)
        for i, y in enumerate(ys):
            if started:
                l2 = a * y + (1.0 - a) * (lvl + trend)
                trend = b_const * (l2 - lvl) + (1.0 - b_const) * trend
                lvl = l2
            else:
                lvl, trend, started = y, 0.0, True
            out_l[i] = lvl
            out_b[i] = trend
        return (lvl, trend, started), {"holt_level": out_l,
                                       "holt_trend": out_b}

    return step


def _sorted_by_key(last: DataFrame) -> DataFrame:
    """`last.orderBy("user_id")` behind a keys-sized hash exchange. A
    global sort range-samples its child, which re-runs everything
    since the last exchange — here the Arrow kernel, so every row
    would cross into Python twice (measured at sf0.1:
    pythonNumRowsReceived = 200000 for 100 000 rows). The barrier
    materializes the one-row-per-key result once and the sampler reads
    its shuffle files (the dedup.q_ngram_jaccard_dedup barrier)."""
    return last.repartition("user_id").orderBy("user_id")


def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key Holt linear-trend state + h-step-ahead forecasts
    (Holt 1957 / Hyndman & Athanasopoulos FPP, public method):
    ``l_t = α·y_t + (1−α)(l_{t−1}+b_{t−1});
    b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}``, init l₁=y₁, b₁=0;
    ``ŷ_{T+h} = l_T + h·b_T``. The coupled two-state recurrence the
    single-accumulator ewm kernel cannot express — so it is its own
    step (:func:`_holt_step`, shared with the stream's holt_per_key),
    run by :func:`keyed_scan` with (level, trend) carried jointly
    across batches.

    Cross-engine exactness: the kernel executes the recurrence with
    the EXACT operation order mirrored in the oracle's recursive CTE
    (`l2 = α*y + (1−α)*(l+b)` then `β*(l2−l) + (1−β)*b`); sequential
    per-key evaluation is deterministic in both engines, so five
    hundred chained steps stay bit-identical. (A DuckDB 1.0.0
    list_reduce STRUCT-accumulator fold silently mis-evaluates
    cross-referencing fields — hence the recursive-CTE oracle, not a
    lambda fold.)

    Scale shape: one hash exchange on the key + in-partition sort,
    one Python pass over every row (same contract as _apply_ewm).
    The last-row rank (rn) and per-key count (n_obs) are computed
    BEFORE the kernel on the same window layout (the
    dashboard_snapshot pattern): mapInPandas erases known output
    partitioning, so a post-kernel Window would force a second hash
    exchange — pre-computing them keeps the whole query on ONE
    full-data exchange, and the post-kernel last-row pick is a
    row-local rn = n_obs filter. Output is |keys| rows, sorted behind a
    keys-sized barrier (:func:`_sorted_by_key`)."""
    from pyspark.sql.window import Window

    s = (_series(spark, sf_dir)
         .filter(F.col("close").isNotNull()))
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    staged = (s.withColumn("rn", F.row_number().over(wo))
              .withColumn("n_obs", F.count("*").over(
                  Window.partitionBy("user_id"))))
    fitted = keyed_scan(
        staged, _holt_step(_HOLT_A, _HOLT_B), init=_HOLT_INIT,
        cols=["close"],
        schema=f"{_ddl(staged)}, holt_level double, holt_trend double")
    last = (fitted
            .filter(F.col("rn") == F.col("n_obs"))
            .select("user_id", "n_obs",
                    F.col("holt_level").alias("level"),
                    F.col("holt_trend").alias("trend")))
    return (last.select(
        "user_id", "n_obs", "level", "trend",
        *[(F.col("level") + F.lit(float(h)) * F.col("trend"))
          .alias(f"fc_{h}") for h in _HOLT_H])
        .transform(_sorted_by_key))


def _holt_sql() -> str:
    a = f"CAST({_HOLT_A} AS DOUBLE)"
    b = f"CAST({_HOLT_B} AS DOUBLE)"
    fc = ", ".join(
        f"level + CAST({float(h)} AS DOUBLE) * trend AS fc_{h}"
        for h in _HOLT_H)
    return f"""
WITH RECURSIVE s AS (
  SELECT user_id, CAST(value AS DOUBLE) AS y,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE value IS NOT NULL),
h AS (
  SELECT user_id, rn, y AS l, CAST(0 AS DOUBLE) AS b
  FROM s WHERE rn = 1
  UNION ALL
  SELECT q.user_id, q.rn, q.l2 AS l,
         {b}*(q.l2 - q.l) + (1.0-{b})*q.b AS b
  FROM (
    SELECT s.user_id, s.rn, h.l, h.b,
           {a}*s.y + (1.0-{a})*(h.l + h.b) AS l2
    FROM h JOIN s ON s.user_id = h.user_id AND s.rn = h.rn + 1) q),
fin AS (
  SELECT user_id, MAX(rn) AS n_obs FROM h GROUP BY user_id)
SELECT fin.user_id, fin.n_obs, h.l AS level, h.b AS trend, {fc}
FROM fin JOIN h ON h.user_id = fin.user_id AND h.rn = fin.n_obs
ORDER BY fin.user_id
"""


# ---------------------------------------------------------------------------
# Holt-Winters additive seasonal (triple exponential smoothing)
# ---------------------------------------------------------------------------

#: Smoothing constants (level, trend, seasonal), season length, and
#: forecast horizons (h <= _HW_M so no seasonal wraparound logic).
_HW_A = 0.3
_HW_B = 0.1
_HW_G = 0.2
_HW_M = 4
#: Holt-Winters step state (first-m buffer, level, trend, seasonal)
#: before a key's first row.
_HW_INIT = ((), math.nan, math.nan, ())


def _hw_step(a: float, b_const: float, g: float, m: int):
    """Holt-Winters additive step over ``cols["close"]``: the first m
    rows fill the buffer, and the m-th sets the classical init (level
    = SEQUENTIAL sum of the buffer / m, trend = 0, s_i = y_i − level);
    every later row runs ``l2 = a(y − s_1) + (1−a)(l + b);
    b = b_const(l2 − l) + (1−b_const)b; s_new = g(y − l2) + (1−g)s_1``
    in that op order (the recursive-CTE oracle's) and rotates the
    season. Emits level, trend and fc_h = level + h·trend + s_h for
    h = 1..3 per row, NaN before the m-th row."""

    def step(state, cols):
        buf, lvl, trend, seas = state
        rows = []
        for y in cols["close"].tolist():
            if seas:
                l2 = a * (y - seas[0]) + (1.0 - a) * (lvl + trend)
                trend = b_const * (l2 - lvl) + (1.0 - b_const) * trend
                seas = seas[1:] + (g * (y - l2) + (1.0 - g) * seas[0],)
                lvl = l2
            elif len(buf) + 1 < m:
                buf += (y,)
                rows.append((math.nan,) * 5)
                continue
            else:
                buf += (y,)
                acc = buf[0]
                for v in buf[1:]:
                    acc = acc + v
                lvl, trend = acc / float(m), 0.0
                seas = tuple(v - lvl for v in buf)
            rows.append((lvl, trend, *seas[:3]))
        lv, tr, *ss = np.array(rows, dtype=np.float64).reshape(-1, 5).T
        return (buf, lvl, trend, seas), {
            "level": lv, "trend": tr,
            **{f"fc_{h}": lv + float(h) * tr + ss[h - 1] for h in (1, 2, 3)}}

    return step


def _hw_dense(a: float, b_const: float, g: float, m: int):
    """Dense form of :func:`_hw_step` for :func:`keyed_scan` (same
    state): level, trend and season update element-wise, so the keys
    of a batch step together on the (segments × max_len) layout of
    :func:`_ewm_dense`, in the step's op order. A first segment that
    continues a key still filling its buffer gets the buffered values
    put back in front of it, so every segment either starts fresh
    (init at position m − 1) or continues a started key."""

    def dense(state, bounds, cols):
        buf, lvl, trend, seas = state
        lead = 0 if seas else len(buf)
        ys = np.concatenate([buf[:lead], cols["close"]])
        bounds = np.r_[0, bounds[1:] + lead]
        seg_of_row, pos_of_row, max_len = _segment_grid(bounds)
        seg_lens = np.diff(bounds)
        n_segs = len(seg_lens)
        ymat = np.full((n_segs, max_len), np.nan)
        ymat[seg_of_row, pos_of_row] = ys
        lv, tr = np.full(n_segs, np.nan), np.full(n_segs, np.nan)
        ss = np.full((n_segs, m), np.nan)
        first = np.full(n_segs, m - 1)  # each segment's init row
        if seas:
            lv[0], tr[0], ss[0], first[0] = lvl, trend, seas, -1
        out = np.empty((5, *ymat.shape))  # level, trend, s_1..s_3
        for t in range(max_len):
            y = ymat[:, t]
            upd = (first < t) & (t < seg_lens)
            l2 = a * (y - ss[:, 0]) + (1.0 - a) * (lv + tr)
            tr = np.where(upd, b_const * (l2 - lv) + (1.0 - b_const) * tr, tr)
            s2 = g * (y - l2) + (1.0 - g) * ss[:, 0]
            ss = np.where(upd[:, None], np.column_stack([ss[:, 1:], s2]), ss)
            lv = np.where(upd, l2, lv)
            if t == m - 1:
                acc = ymat[:, 0]
                for j in range(1, m):
                    acc = acc + ymat[:, j]
                l0 = acc / float(m)
                init = (first == t) & (seg_lens >= m)
                lv, tr = np.where(init, l0, lv), np.where(init, 0.0, tr)
                ss = np.where(init[:, None], ymat[:, :m] - l0[:, None], ss)
            out[:, :, t] = lv, tr, ss[:, 0], ss[:, 1], ss[:, 2]
        lv_r, tr_r, *ss_r = out[:, seg_of_row, pos_of_row][:, lead:]
        n_last = seg_lens[-1]
        if first[-1] < 0 or n_last >= m:
            buf = buf if first[-1] < 0 else tuple(ymat[-1, :m])
            state = (buf, lv[-1], tr[-1], tuple(ss[-1]))
        else:
            state = (tuple(ymat[-1, :n_last]), math.nan, math.nan, ())
        return {"level": lv_r, "trend": tr_r,
                **{f"fc_{h}": lv_r + float(h) * tr_r + ss_r[h - 1]
                   for h in (1, 2, 3)}}, state

    return dense


def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal smoothing per key (triple
    exponential; Winters 1960 / Hyndman & Athanasopoulos FPP):
    ``l_t = α(y_t − s_{t−m}) + (1−α)(l_{t−1}+b_{t−1});
    b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1};
    s_t = γ(y_t − l_t) + (1−γ)s_{t−m}``, m = 4, classical
    deterministic init at t = m (l = sequential mean of the first m
    observations, b = 0, s_i = y_i − l). Output: one row per key with
    at least m observations — the final (level, trend) and
    ŷ_{T+h} = l + h·b + s_{T+h−m} for h = 1..3.

    Kernel: :func:`_hw_step` (with its dense form, :func:`_hw_dense`)
    run by :func:`keyed_scan`; the m-vector season rides in the step
    state with level and trend. The rank
    (rn) and per-key count (n_obs) are computed BEFORE the kernel on
    the key-repartitioned, sorted layout, so the last-row pick after
    it is a row-local filter and the query keeps one full-data hash
    exchange (the q_holt_forecast pattern).

    Oracle: per-key recursive CTE whose rows carry the seasonal
    DOUBLE[] and rotate it with list_append(seas[2:m], s_new) —
    verified bit-identical to the sequential Python recurrence (the
    struct-accumulator fold bug does not affect recursive CTEs).
    Both sides compute the init mean as a SEQUENTIAL fold over the
    first m values (a parallel SUM could round differently)."""
    s = (_series(spark, sf_dir)
         .filter(F.col("close").isNotNull()))
    # rn and n_obs share one window spec (one Window node); only
    # (key, value, rank, count) cross into Python and only the columns
    # the last-row pick reads come back. A select keeps the
    # partitioning and the in-partition order.
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    staged = (keyed_repartition(s, "user_id")
              .sortWithinPartitions("user_id", "ts", "event_id")
              .select("user_id", "close",
                      F.row_number().over(wo).alias("rn"),
                      F.count("*").over(wo.rowsBetween(
                          W.unboundedPreceding, W.unboundedFollowing))
                      .alias("n_obs")))
    fcs = [f"fc_{h}" for h in (1, 2, 3)]
    fitted = keyed_scan(
        staged, _hw_step(_HW_A, _HW_B, _HW_G, _HW_M), init=_HW_INIT,
        cols=["close"], dense=_hw_dense(_HW_A, _HW_B, _HW_G, _HW_M),
        schema=(f"{_ddl(staged.drop('close'))}, level double, "
                "trend double, " + ", ".join(f"{c} double" for c in fcs)))
    return (fitted
            .filter((F.col("rn") == F.col("n_obs"))
                    & (F.col("n_obs") >= _HW_M))
            .select("user_id", "n_obs", "level", "trend", *fcs)
            .transform(_sorted_by_key))


def _holt_winters_sql() -> str:
    a = f"CAST({_HW_A} AS DOUBLE)"
    b = f"CAST({_HW_B} AS DOUBLE)"
    g = f"CAST({_HW_G} AS DOUBLE)"
    m = _HW_M
    fc = ", ".join(
        f"level + CAST({float(h)} AS DOUBLE) * trend + seas[{h}] AS fc_{h}"
        for h in (1, 2, 3))
    return f"""
WITH RECURSIVE s AS (
  SELECT user_id, CAST(value AS DOUBLE) AS y,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE value IS NOT NULL),
anchor AS (
  SELECT user_id,
         list_reduce(list(y ORDER BY rn) FILTER (WHERE rn <= {m}),
                     (acc, v) -> acc + v) / CAST({m} AS DOUBLE) AS l0,
         list(y ORDER BY rn) FILTER (WHERE rn <= {m}) AS first_m
  FROM s GROUP BY user_id HAVING COUNT(*) >= {m}),
h AS (
  SELECT user_id, {m} AS rn, l0 AS l, CAST(0 AS DOUBLE) AS b,
         list_transform(first_m, v -> v - l0) AS seas
  FROM anchor
  UNION ALL
  SELECT q.user_id, q.rn, q.l2 AS l,
         {b}*(q.l2 - q.l) + (1.0-{b})*q.b AS b,
         list_append(q.seas[2:{m}],
                     {g}*(q.y - q.l2) + (1.0-{g})*q.seas[1]) AS seas
  FROM (
    SELECT s.user_id, s.rn, s.y, h.l, h.b, h.seas,
           {a}*(s.y - h.seas[1]) + (1.0-{a})*(h.l + h.b) AS l2
    FROM h JOIN s ON s.user_id = h.user_id AND s.rn = h.rn + 1) q),
fin AS (SELECT user_id, MAX(rn) AS n_obs FROM h GROUP BY user_id)
SELECT fin.user_id, fin.n_obs, h.l AS level, h.b AS trend, {fc}
FROM fin JOIN h ON h.user_id = fin.user_id AND h.rn = fin.n_obs
ORDER BY fin.user_id
"""


# ---------------------------------------------------------------------------
# Forecast-residual anomaly detection (Holt one-step-ahead + EW variance)
# ---------------------------------------------------------------------------

#: EW variance decay for the residual scale and the |z| flag cutoff.
_ANOM_RHO = 0.1
_ANOM_Z = 3.0


def _anomaly_step(holt, rho: float, zcut: float):
    """Residual-scoring step over the Holt step `holt`: each row's
    one-step-ahead residual ``y - (l + b)`` uses the (level, trend)
    BEFORE the row; the EW residual variance v (seeded with the first
    residual's square) scores it as ``z = resid / sqrt(v_prev)``, then
    updates. A key's first row has no forecast: resid and z are NaN.
    State: (Holt state, v)."""

    def step(state, cols):
        holt_state, var = state
        lvl, trend, started = holt_state
        holt_state, fit = holt(holt_state, cols)
        prev_l = np.r_[lvl, fit["holt_level"][:-1]]
        prev_b = np.r_[trend, fit["holt_trend"][:-1]]
        resid = cols["close"] - (prev_l + prev_b)
        z = np.full(len(resid), np.nan)
        if not started:
            resid[0] = np.nan
        for i in range(0 if started else 1, len(resid)):
            r = float(resid[i])
            z[i] = r / math.sqrt(var) if not math.isnan(var) else math.nan
            var = (r * r if math.isnan(var)
                   else (1.0 - rho) * var + rho * (r * r))
        flag = ~np.isnan(z) & (np.abs(z) > zcut)
        return (holt_state, var), {"resid": resid, "z": z,
                                   "is_anomaly": flag}

    return step


def _anomaly_fitted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared residual-scoring pass for forecast_anomalies and
    forecast_backtest: the per-key rank (rn) and count (n_rows) are
    computed BEFORE the Arrow kernel on the same window layout the
    kernel needs anyway (mapInPandas erases known output
    partitioning, so computing them after would cost a second hash
    exchange — the dashboard_snapshot pattern). Output carries the
    anomaly columns plus rn/n_rows for the backtest's row-local
    eval-tail filter."""
    from pyspark.sql.window import Window

    s = (_series(spark, sf_dir)
         .filter(F.col("close").isNotNull()))
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    staged = (s.withColumn("rn", F.row_number().over(wo))
              .withColumn("n_rows", F.count("*").over(
                  Window.partitionBy("user_id"))))
    return keyed_scan(
        staged, _anomaly_step(_holt_step(_HOLT_A, _HOLT_B), _ANOM_RHO,
                              _ANOM_Z),
        init=(_HOLT_INIT, math.nan), cols=["close"],
        schema=f"{_ddl(staged)}, resid double, z double, is_anomaly boolean")


def q_forecast_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-shaped anomaly detection: each observation is scored
    against its own one-step-ahead Holt forecast — resid_t =
    y_t − (l_{t−1} + b_{t−1}), normalized by the exponentially
    weighted residual variance v (ρ = 0.1, seeded with the first
    residual's square), flagged when |z| > 3. The standard
    model-based change detector for metric streams: the forecast
    absorbs trend, so flags mean "departed from recent behavior",
    not "is large".

    Per-row output (y, resid, z, is_anomaly); warmup rows carry NULL
    resid/z and is_anomaly = false. (The kernel writes NaN into the
    pandas batch, which Arrow maps to SQL NULL on transfer — so the
    oracle's sentinel is NULL here, while pure-SQL producers like
    contract_check_lineitem must use NaN: double NULLs round-trip
    consistently, it is only non-double NULLs inside pandas object
    columns that diverge.)

    Scale shape: identical to the Holt kernel — one key exchange,
    one sequential Arrow pass carrying (l, b, v); the oracle's
    recursive CTE executes the same ops in the same order, so z
    scores are bit-identical (one exchange total; see
    _anomaly_fitted for the pre-kernel rank trick)."""
    return _anomaly_fitted(spark, sf_dir).drop("rn", "n_rows")


def _anomaly_sql() -> str:
    a = f"CAST({_HOLT_A} AS DOUBLE)"
    b = f"CAST({_HOLT_B} AS DOUBLE)"
    rho = f"CAST({_ANOM_RHO} AS DOUBLE)"
    return f"""
WITH RECURSIVE s AS (
  SELECT user_id, event_id, ts, CAST(value AS DOUBLE) AS y,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE value IS NOT NULL),
h AS (
  SELECT user_id, event_id, ts, rn, y, y AS l, CAST(0 AS DOUBLE) AS b,
         CAST(NULL AS DOUBLE) AS v,
         CAST(NULL AS DOUBLE) AS resid, CAST(NULL AS DOUBLE) AS z
  FROM s WHERE rn = 1
  UNION ALL
  SELECT q.user_id, q.event_id, q.ts, q.rn, q.y,
         {a}*q.y + (1.0-{a})*(q.l + q.b) AS l,
         {b}*(({a}*q.y + (1.0-{a})*(q.l + q.b)) - q.l)
           + (1.0-{b})*q.b AS b,
         CASE WHEN q.v IS NULL THEN q.resid2 * q.resid2
              ELSE (1.0-{rho})*q.v + {rho}*(q.resid2*q.resid2) END AS v,
         q.resid2 AS resid,
         q.resid2 / sqrt(q.v) AS z
  FROM (
    SELECT s.user_id, s.event_id, s.ts, s.rn, s.y, h.l, h.b, h.v,
           s.y - (h.l + h.b) AS resid2
    FROM h JOIN s ON s.user_id = h.user_id AND s.rn = h.rn + 1) q)
SELECT user_id, event_id, ts, y AS close, resid, z,
       CASE WHEN z IS NULL THEN FALSE ELSE abs(z) > {_ANOM_Z} END
         AS is_anomaly
FROM h
"""


#: Fraction of each key's history that is TRAINING in the backtest;
#: the remaining tail is scored out-of-sample.
_BT_TRAIN_FRAC = 0.8


def q_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin forecast evaluation — the model-selection loop
    for the Holt family: every row's one-step-ahead residual is
    already produced by the `forecast_anomalies` pass (the forecast
    at t uses only state through t−1, so each residual IS an
    out-of-sample error at origin t−1); the backtest scores only the
    final 20% of each key's history, where the state no longer
    remembers its warmup. Per key: n_eval, MAE, RMSE — the numbers a
    model registry compares across candidate smoothing configs.

    Scale shape: the residual pass is the one-exchange sequential
    kernel, and the eval-tail rank/count it needs are computed
    BEFORE the kernel on that same window layout (_anomaly_fitted —
    mapInPandas erases known output partitioning, so a post-kernel
    Window would cost a second full-data exchange + sort; the tail
    selection is now a row-local filter). The only post-kernel
    exchange is the partial-aggregated per-key rollup. The error
    aggregate is decimal-exact (parallel double SUM order would
    diverge across engines — same discipline as dsum everywhere
    else). RMSE derives from the exact sum of squares, so both
    engines take sqrt of the identical double."""
    tail = (_anomaly_fitted(spark, sf_dir)
            .filter((F.col("rn") > F.col("n_rows") * _BT_TRAIN_FRAC)
                    & F.col("resid").isNotNull()))
    abs_r = F.abs(F.col("resid"))
    return (tail.groupBy("user_id")
            .agg(F.count("*").alias("n_eval"),
                 (F.sum(abs_r.cast(DEC)).cast("double")
                  / F.count("*")).alias("mae"),
                 F.sqrt(F.sum((abs_r * abs_r).cast(DEC)).cast("double")
                        / F.count("*")).alias("rmse"))
            .orderBy("user_id"))


def _backtest_sql() -> str:
    from ..functions import dsum_sql

    # The residual trajectory is the forecast_anomalies oracle; wrap
    # it, select the per-key eval tail, aggregate decimal-exact.
    return f"""
WITH scored AS ({_anomaly_sql()}),
sized AS (
  SELECT user_id, resid,
         COUNT(*) OVER (PARTITION BY user_id) AS n_rows,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM scored)
SELECT user_id, COUNT(*) AS n_eval,
       {dsum_sql('abs(resid)')} / COUNT(*) AS mae,
       sqrt({dsum_sql('abs(resid) * abs(resid)')} / COUNT(*)) AS rmse
FROM sized
WHERE rn > n_rows * {_BT_TRAIN_FRAC} AND resid IS NOT NULL
GROUP BY user_id
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# Dashboard snapshot: the reference console's per-refresh payload
# ---------------------------------------------------------------------------

def q_dashboard_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole dashboard refresh as ONE query: per
    symbol, the latest tick decorated with the indicator suite the
    Streamlit console shows side by side — BUY/SELL/HOLD signal (B2,
    `flink_processor/flink_processor.py:105-109`), EMA 5/15 (E1),
    SMA 20 (E2), RSI 14 (E3), and support/resistance (D1/E7), all
    `streamlit_app/streamlit_app.py:165-204,346-347`. The reference
    recomputes each of these eagerly per refresh over separate pandas
    frames; here every indicator shares ONE hash exchange on the key —
    the window stages reuse the partitioning, the ewm kernel runs over
    the already-sorted layout, and the final latest-row filter is a
    rank over the same key. Output: one row per symbol."""
    from .indicators import _rolling_mean

    s = _series(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wk = W.partitionBy("user_id").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing)
    # Two projections, not a withColumn per column: each call
    # re-analyzes the growing plan (about 1000 py4j round trips a
    # build). The rolling means sit in the second one, so the decimal
    # casts inside them are computed after the exchange rather than
    # shuffled. The latest-row rank is precomputed ASCENDING
    # (rn == n_rows) so it rides the same exchange/sort as every other
    # window — ranking after the kernel would force a second exchange,
    # since mapInPandas erases the known output partitioning.
    s = s.withColumns({
        "prev_value": F.lag("close").over(w),
        "support": F.min("close").over(wk),
        "resistance": F.max("close").over(wk),
        "delta": F.col("close") - F.lag("close").over(w),
        "rn": F.row_number().over(w),
        "n_rows": F.count("*").over(wk)})
    gain = F.when(F.col("delta") > 0, F.col("delta")).otherwise(F.lit(0.0))
    loss = F.when(F.col("delta") < 0, -F.col("delta")).otherwise(F.lit(0.0))
    s = s.withColumns({"sma_20": _rolling_mean(F.col("close"), w, 20),
                       "gain_avg": _rolling_mean(gain, w, 14),
                       "loss_avg": _rolling_mean(loss, w, 14)})
    # Window stages left the layout hash(user_id)-partitioned and
    # (ts, event_id)-sorted — the kernel adds no exchange.
    s = _apply_ewm(s, ["ts", "event_id"],
                   {"ema_5": ("close", 2.0 / (5.0 + 1.0)),
                    "ema_15": ("close", 2.0 / (15.0 + 1.0))},
                   assume_sorted=True)
    rs = F.col("gain_avg") / F.nullif(F.col("loss_avg"), F.lit(0.0))
    signal = (F.when(F.col("prev_value").isNull(), "HOLD")
              .when(F.col("close") > F.col("prev_value"), "BUY")
              .when(F.col("close") < F.col("prev_value"), "SELL")
              .otherwise("HOLD"))
    return (s.filter(F.col("rn") == F.col("n_rows"))
            .select("user_id", "ts", "close", "prev_value",
                    signal.alias("signal"), "ema_5", "ema_15", "sma_20",
                    (F.lit(100.0) - (F.lit(100.0) / (F.lit(1.0) + rs)))
                    .alias("rsi_14"),
                    "support", "resistance"))


def _dashboard_sql() -> str:
    from .indicators import _rolling_mean_sql

    kw = "(PARTITION BY user_id ORDER BY ts, event_id)"
    return f"""
WITH d AS (
  SELECT user_id, event_id, ts, value AS close,
         lag(value) OVER w AS prev_value,
         MIN(value) OVER wk AS support,
         MAX(value) OVER wk AS resistance,
         {_ewm_sql('value', '2.0/(5.0+1.0)', _ORACLE_KEY_WINDOW)} AS ema_5,
         {_ewm_sql('value', '2.0/(15.0+1.0)', _ORACLE_KEY_WINDOW)} AS ema_15,
         {_rolling_mean_sql('value', 20, kw)} AS sma_20,
         value - lag(value) OVER w AS delta,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
  WINDOW w AS {kw}, wk AS (PARTITION BY user_id)),
g AS (
  SELECT *,
         {_rolling_mean_sql("CASE WHEN delta > 0 THEN delta ELSE 0.0 END",
                            14, kw)} AS gain_avg,
         {_rolling_mean_sql("CASE WHEN delta < 0 THEN -delta ELSE 0.0 END",
                            14, kw)} AS loss_avg
  FROM d)
SELECT user_id, ts, close, prev_value,
       CASE WHEN prev_value IS NULL THEN 'HOLD'
            WHEN close > prev_value THEN 'BUY'
            WHEN close < prev_value THEN 'SELL'
            ELSE 'HOLD' END AS signal,
       ema_5, ema_15, sma_20,
       100.0 - (100.0 / (1.0 + gain_avg / nullif(loss_avg, 0.0))) AS rsi_14,
       support, resistance
FROM g WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Kalman local-level filter (coupled state + variance recurrence)
# ---------------------------------------------------------------------------

#: Process / observation noise for the local-level model. Q/R = 0.01
#: gives a steady-state gain ≈ 0.095 — a smoother that trusts history
#: ~10× more than each new tick.
_KAL_Q = 0.01
_KAL_R = 1.0


def q_kalman_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kalman filter for the local-level model per key (Kalman 1960 /
    Durbin & Koopman, public): the adaptive-gain generalization of
    the EMA — the smoothing weight is not a constant α but the
    running posterior variance: ``P⁻ = P + Q; K = P⁻/(P⁻ + R);
    l ← l + K(y − l); P ← (1−K)P⁻``, init l₁ = y₁, P₁ = 1. Early
    observations get large gains (uncertain state), converging to the
    steady-state gain — exactly why trading systems use it over a
    fixed-α EMA after gaps. Output: one row per key with the final
    (level, p_var, gain) — level is also the one-step-ahead forecast
    of the local-level model.

    Kernel + oracle follow the q_holt_forecast discipline to the
    letter: :func:`_kalman_step` (with its dense form,
    :func:`_kalman_dense`) runs in one partition-wide pass of
    :func:`keyed_scan` with the last-row rank precomputed on the same
    window layout (one full-data exchange), mirrored by a per-key recursive
    CTE executing the IDENTICAL operation order — sequential doubles,
    bit-exact on both engines."""
    from pyspark.sql.window import Window

    s = (_series(spark, sf_dir)
         .filter(F.col("close").isNotNull()))
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    staged = (s.withColumn("rn", F.row_number().over(wo))
              .withColumn("n_obs", F.count("*").over(
                  Window.partitionBy("user_id"))))
    fitted = keyed_scan(
        staged, _kalman_step(_KAL_Q, _KAL_R), init=_KALMAN_INIT,
        cols=["close", "rn"],
        schema=(f"{_ddl(staged)}, kal_level double, kal_p double, "
                "kal_gain double"),
        dense=_kalman_dense(_KAL_Q, _KAL_R))
    # Single-observation keys never compute a gain: the kernel carries
    # NaN, the oracle NULL — normalize to NULL (the dtype-honest
    # "undefined", matching the recursive CTE's first row).
    return (fitted
            .filter(F.col("rn") == F.col("n_obs"))
            .select("user_id", "n_obs",
                    F.col("kal_level").alias("level"),
                    F.col("kal_p").alias("p_var"),
                    F.when(F.col("n_obs") > 1, F.col("kal_gain"))
                    .alias("gain"))
            .transform(_sorted_by_key))


#: Kalman step state (level, variance, started) before a key's first row.
_KALMAN_INIT = (math.nan, math.nan, False)


def _kalman_step(q_noise: float, r_noise: float):
    """Local-level Kalman step over ``cols["close"]``: the first row
    seeds (level, P) = (y, 1) with no gain (NaN); every later row runs
    ``P⁻ = P + Q; K = P⁻/(P⁻ + R); l = l + K(y − l); P = (1−K)P⁻`` in
    that op order (the recursive-CTE oracle's). Emits kal_level,
    kal_p, kal_gain per row."""

    def step(state, cols):
        lvl, p, started = state
        ys = cols["close"].tolist()
        out_l = np.empty(len(ys), dtype=np.float64)
        out_p = np.empty(len(ys), dtype=np.float64)
        out_k = np.empty(len(ys), dtype=np.float64)
        for i, y in enumerate(ys):
            if started:
                pp = p + q_noise
                gain = pp / (pp + r_noise)
                lvl = lvl + gain * (y - lvl)
                p = (1.0 - gain) * pp
            else:
                lvl, p, gain, started = y, 1.0, math.nan, True
            out_l[i] = lvl
            out_p[i] = p
            out_k[i] = gain
        return (lvl, p, started), {"kal_level": out_l, "kal_p": out_p,
                                   "kal_gain": out_k}

    return step


def _kalman_dense(q_noise: float, r_noise: float):
    """Dense form of :func:`_kalman_step` for :func:`keyed_scan`; reads
    ``cols["rn"]``, the row's 1-based rank within its key.

    Vectorization (r7, verdict item 4 — the former per-row Python
    loop measured 22.6 s at sf10, the worst probe in the tree): two
    structural facts make the local-level filter vectorizable WITHOUT
    reassociating a single float op:

    * the (P, gain) recurrence never reads the data — ``P⁻ = P + Q``,
      ``K = P⁻/(P⁻+R)``, ``P = (1−K)P⁻`` depend only on the row's
      per-key RANK — so both are a table indexed by `rn`, computed by
      the same scalar ops and grown on demand;
    * the level update ``l ← l + K(y − l)`` is element-wise, so rows
      of DIFFERENT keys at the same rank step together: lay the
      batch's per-key segments out as a (segments × max_len) matrix
      and run max_len vectorized steps across all keys at once. Each
      element still sees exactly the scalar op sequence (numpy
      element-wise ops are per-element IEEE in order), so the result
      is BIT-IDENTICAL to the row loop — asserted by
      tests/test_pandas_parity.py's kalman property test and the
      unchanged oracle. Keys scale with data here (66 rows/user at
      every SF — TESTDATA.md), so batches are wide and step counts
      stay ~66 regardless of corpus size; measured 22.6 s → well
      under the ≤10 s sf10 target (SCALING.md addendum 13)."""
    # Gain / variance by rank; index 0 unused, rank 1 = the first
    # observation (P = 1, no gain). Held by `dense` alone: cloudpickle
    # gives each unpickled function its own closure cells, so a second
    # closure growing them would not be seen by `dense` on a worker.
    tables = [np.array([np.nan, np.nan]), np.array([np.nan, 1.0])]

    def dense(state, bounds, cols):
        rns = cols["rn"].astype(np.int64)
        starts, seg_lens = bounds[:-1], np.diff(bounds)
        seg_of_row, pos_of_row, max_len = _segment_grid(bounds)
        offsets = rns[starts] - 1  # 0-based rank before each segment
        k_tab, p_tab = tables
        have, need = len(k_tab) - 1, int((offsets + seg_lens).max())
        if need > have:  # grow by the step's scalar ops
            k_tab = np.concatenate([k_tab, np.empty(need - have)])
            p_tab = np.concatenate([p_tab, np.empty(need - have)])
            p = p_tab[have]
            for rn in range(have + 1, need + 1):
                pp = p + q_noise
                k = pp / (pp + r_noise)
                p = (1.0 - k) * pp
                k_tab[rn], p_tab[rn] = k, p
            tables[:] = k_tab, p_tab
        ymat = np.full((len(starts), max_len), np.nan)
        ymat[seg_of_row, pos_of_row] = cols["close"]
        lmat = np.empty_like(ymat)
        lprev = np.zeros(len(starts))
        if state[2]:  # segment 0 continues the last batch's key
            lprev[0] = state[0]
        for t in range(max_len):
            y = ymat[:, t]
            rn_t = offsets + t + 1
            k = k_tab[np.minimum(rn_t, len(k_tab) - 1)]
            lvl = np.where(rn_t == 1, y, lprev + k * (y - lprev))
            lvl = np.where(t < seg_lens, lvl, lprev)
            lmat[:, t] = lvl
            lprev = lvl
        out_l = lmat[seg_of_row, pos_of_row]
        out_p = p_tab[rns]
        return ({"kal_level": out_l, "kal_p": out_p, "kal_gain": k_tab[rns]},
                (float(out_l[-1]), float(out_p[-1]), True))

    return dense


def _kalman_sql() -> str:
    q, r = f"CAST({_KAL_Q} AS DOUBLE)", f"CAST({_KAL_R} AS DOUBLE)"
    return f"""
WITH RECURSIVE s AS (
  SELECT user_id, CAST(value AS DOUBLE) AS y,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE value IS NOT NULL),
h AS (
  SELECT user_id, rn, y AS l, CAST(1.0 AS DOUBLE) AS p,
         CAST(NULL AS DOUBLE) AS k
  FROM s WHERE rn = 1
  UNION ALL
  SELECT q2.user_id, q2.rn,
         q2.l + q2.k * (q2.y - q2.l) AS l,
         (1.0 - q2.k) * q2.pp AS p,
         q2.k
  FROM (
    SELECT s.user_id, s.rn, s.y, h.l, h.p + {q} AS pp,
           (h.p + {q}) / ((h.p + {q}) + {r}) AS k
    FROM h JOIN s ON s.user_id = h.user_id AND s.rn = h.rn + 1) q2),
fin AS (
  SELECT user_id, MAX(rn) AS n_obs FROM h GROUP BY user_id)
SELECT fin.user_id, fin.n_obs, h.l AS level, h.p AS p_var, h.k AS gain
FROM fin JOIN h ON h.user_id = fin.user_id AND h.rn = fin.n_obs
ORDER BY fin.user_id
"""


QUERIES = {
    "dashboard_snapshot": (q_dashboard_snapshot, _dashboard_sql()),
    "kalman_level": (q_kalman_level, _kalman_sql()),
    "holt_forecast": (q_holt_forecast, _holt_sql()),
    "holt_winters": (q_holt_winters, _holt_winters_sql()),
    "forecast_anomalies": (q_forecast_anomalies, _anomaly_sql()),
    "forecast_backtest": (q_forecast_backtest, _backtest_sql()),
    "ema": (q_ema, _EMA_SQL),
    "macd": (q_macd, _MACD_SQL),
    "tsi": (q_tsi, _TSI_SQL),
    "adx": (q_adx, _ADX_SQL),
}
