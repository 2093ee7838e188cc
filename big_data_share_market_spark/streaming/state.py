"""Keyed streaming state machines (SURVEY §2.G6/D4) — the reference's
per-symbol consumer-thread state (`streamlit_app/provider.py:20-22,
107-113`: a 20-record FIFO plus indicators recomputed per key) as
`applyInPandasWithState` operators, partition-parallel and
checkpointed by Spark.

Every NoTimeout machine runs on one adapter, :func:`_keyed_state`,
which owns the select, the optional NULL filter, the grouping, state
load and update, and the output frame. A machine is a pure step

    step(state, pdf) -> (new_state, columns or None)

with this contract:

- ``state`` is the key's tuple in its ``*_STATE_DDL`` layout (the
  machine's ``init`` tuple on the key's first micro-batch);
- ``pdf`` holds the key's rows of ONE micro-batch, concatenated and
  sorted ascending on ``(ts, event_id)`` — event_id breaks ``ts``
  ties, the same order as the batch window forms;
- NULL ``value`` ticks arrive as NaN unless the machine asks for
  ``drop_null``, in which case they are filtered out before the
  shuffle (the machines whose recurrence a NaN would poison forever;
  their oracles filter ``value IS NOT NULL`` the same way);
- the returned columns follow the ``*_OUTPUT_DDL`` order WITHOUT
  ``user_id``; the adapter puts the key in front. ``None`` emits
  nothing for this batch.

Each recurrence keeps the IEEE operation order of its batch kernel or
recursive-CTE oracle, so a replay is bit-identical to the batch
result and does not depend on how the input splits into micro-batches.

Scale notes: state is O(n_keys × a few scalars) (last-N: × N). The
shuffle is one hash partitioning on the key, the same as any grouped
agg. Sessionization (EventTimeTimeout) keeps its own function below.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _keyed_state(sdf: DataFrame, cols: list[str], step, *, init: tuple,
                 state_ddl: str, output_ddl: str, mode: str = "append",
                 drop_null: bool = False) -> DataFrame:
    """Run the pure per-key `step` (module docstring) as a NoTimeout
    `applyInPandasWithState` operator over `user_id` + `cols`."""

    def fn(key: tuple, pdf_iter, state: GroupState):
        (user_id,) = key
        parts = [pdf for pdf in pdf_iter if len(pdf)]
        if not parts:  # NoTimeout calls only keys with rows
            return
        pdf = (pd.concat(parts, ignore_index=True)
               .sort_values(["ts", "event_id"]).reset_index(drop=True))
        new_state, out = step(state.get if state.exists else init, pdf)
        state.update(new_state)
        if out is not None:
            yield pd.DataFrame({"user_id": user_id, **out})

    sdf = sdf.select("user_id", *cols)
    if drop_null:
        sdf = sdf.filter(F.col("value").isNotNull())
    return sdf.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=output_ddl,
        stateStructType=state_ddl,
        outputMode=mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_TICK_COLS = ["event_id", "ts", "value"]

#: Output: the buffered rows, ranked 1 = newest (matches the batch
#: form operators/keyed.q_latest_n_per_key for oracle parity).
OUTPUT_DDL = "user_id BIGINT, event_id BIGINT, ts TIMESTAMP, value DOUBLE, rn INT"
#: State: parallel arrays of the buffer (timestamps as int64 micros —
#: state schemas cannot hold TimestampType payloads portably).
STATE_DDL = "ts_us ARRAY<BIGINT>, event_id ARRAY<BIGINT>, value ARRAY<DOUBLE>"

_N_DEFAULT = 20


def _last_n_step(n: int):
    def step(state, pdf):
        ts_us, event_id, value = state
        pdf_us = pdf["ts"].to_numpy("datetime64[us]").astype("int64")
        buf = pd.DataFrame({
            "ts_us": np.r_[np.asarray(ts_us, "int64"), pdf_us],
            "event_id": np.r_[np.asarray(event_id, "int64"),
                              pdf["event_id"].to_numpy("int64")],
            "value": np.r_[np.asarray(value, "float64"),
                           pdf["value"].to_numpy("float64")],
        })
        # Keep the N newest by (ts, event_id) — deterministic tiebreak,
        # same order as the batch window rank.
        buf = (buf.sort_values(["ts_us", "event_id"],
                               ascending=[False, False])
               .head(n).reset_index(drop=True))
        return ((buf["ts_us"].tolist(), buf["event_id"].tolist(),
                 buf["value"].tolist()),
                {"event_id": buf["event_id"],
                 "ts": pd.to_datetime(buf["ts_us"], unit="us"),
                 "value": buf["value"],
                 "rn": range(1, len(buf) + 1)})

    return step


def last_n_per_key(sdf: DataFrame, n: int = _N_DEFAULT) -> DataFrame:
    """Streaming bounded buffer: latest `n` events per user_id, the
    whole buffer re-emitted in update mode — the consumer thread's
    evict-at-N behavior."""
    return _keyed_state(sdf, _TICK_COLS, _last_n_step(n),
                        init=([], [], []), state_ddl=STATE_DDL,
                        output_ddl=OUTPUT_DDL, mode="update")


# ---------------------------------------------------------------------------
# Streaming EMA: the reference's live indicator loop as keyed state
# ---------------------------------------------------------------------------

#: Output mirrors the batch EMA (operators/ewm.q_ema) for oracle parity.
EMA_OUTPUT_DDL = ("user_id BIGINT, event_id BIGINT, ts TIMESTAMP, "
                  "close DOUBLE, ema_5 DOUBLE, ema_15 DOUBLE")
#: State: one (accumulator, started) pair per span.
EMA_STATE_DDL = "acc ARRAY<DOUBLE>, started ARRAY<BOOLEAN>"


def _ema_step(alphas: list[float]):
    """Per-key seeded continuation of the adjust=False ewm recurrence
    (`acc := acc + alpha*(x - acc)`, NULL inputs carry the
    accumulator) — the same IEEE op order as the batch kernel
    `operators/ewm.ewm_mean`, so stream output is bit-identical to the
    batch result when events arrive in order. The reference computes
    this eagerly per dashboard refresh (`streamlit_app/
    streamlit_app.py:165-166,346-347`); here the state lives in the
    checkpoint, updated once per event."""

    def step(state, pdf):
        accs, started = list(state[0]), list(state[1])
        vals = pdf["value"].to_numpy(dtype="float64")
        out_cols = []
        for j, alpha in enumerate(alphas):
            acc, on = accs[j], started[j]
            col = np.empty(len(vals), dtype="float64")
            for i, x in enumerate(vals):
                if math.isnan(x):
                    col[i] = acc if on else math.nan
                    continue
                if not on:
                    acc, on = float(x), True
                else:
                    acc = acc + alpha * (float(x) - acc)
                col[i] = acc
            accs[j], started[j] = acc, on
            out_cols.append(col)
        return (accs, started), {
            "event_id": pdf["event_id"].astype("int64"),
            "ts": pdf["ts"],
            "close": vals,
            "ema_5": out_cols[0],
            "ema_15": out_cols[1],
        }

    return step


def ema_per_key(sdf: DataFrame,
                alphas: tuple[float, float] = (2.0 / 6.0, 2.0 / 16.0)) -> DataFrame:
    """Streaming EMA(5)/EMA(15) per user_id with checkpointed
    accumulator state. One hash shuffle on the key per micro-batch;
    state is O(n_keys x 2 doubles) — negligible at any key count."""
    return _keyed_state(sdf, _TICK_COLS, _ema_step(list(alphas)),
                        init=([math.nan] * len(alphas),
                              [False] * len(alphas)),
                        state_ddl=EMA_STATE_DDL, output_ddl=EMA_OUTPUT_DDL)


ATR_OUTPUT_DDL = ("user_id BIGINT, event_id BIGINT, ts TIMESTAMP, "
                  "close DOUBLE, tr DOUBLE, atr_14 DOUBLE")
ATR_STATE_DDL = "prev DOUBLE, acc DOUBLE, started BOOLEAN"


def _atr_step(alpha: float):
    """Checkpointed Wilder ATR over tick ranges: tr = |x - prev x|
    (NULL on each key's first tick, exactly `abs(value - lag(value))`),
    smoothed by the shared NULL-skipping ewm recurrence — same op
    order as operators/channels.q_atr_wilder's kernel, so the streamed
    trajectory is bit-identical to the batch closed form."""

    def step(state, pdf):
        prev, acc, started = state
        prev = math.nan if prev is None else prev
        vals = pdf["value"].to_numpy(dtype="float64")
        out_tr = np.empty(len(vals), dtype="float64")
        out_atr = np.empty(len(vals), dtype="float64")
        for i, x in enumerate(vals):
            tr = abs(x - prev)  # nan if either side nan, like lag()
            prev = x
            out_tr[i] = tr
            if math.isnan(tr):
                out_atr[i] = acc if started else math.nan
            elif not started:
                acc, started = tr, True
                out_atr[i] = acc
            else:
                acc = acc + alpha * (tr - acc)
                out_atr[i] = acc
        return (prev, acc, started), {
            "event_id": pdf["event_id"].astype("int64"),
            "ts": pdf["ts"],
            "close": vals,
            "tr": out_tr,
            "atr_14": out_atr,
        }

    return step


def atr_per_key(sdf: DataFrame, alpha: float = 1.0 / 14.0) -> DataFrame:
    """Streaming Wilder ATR(14) per user_id — live volatility per
    symbol. State is O(n_keys × 2 doubles); one hash shuffle on the
    key per micro-batch, like the EMA/Holt kernels."""
    return _keyed_state(sdf, _TICK_COLS, _atr_step(alpha),
                        init=(math.nan, math.nan, False),
                        state_ddl=ATR_STATE_DDL, output_ddl=ATR_OUTPUT_DDL)


SUPERTREND_OUTPUT_DDL = ("user_id BIGINT, event_id BIGINT, ts TIMESTAMP, "
                         "close DOUBLE, supertrend DOUBLE, trend INT")
SUPERTREND_STATE_DDL = ("atr DOUBLE, fub DOUBLE, flb DOUBLE, trend INT, "
                        "prev_close DOUBLE, started BOOLEAN")


def _supertrend_step(alpha: float, mult: float):
    """Checkpointed tick-level supertrend: with high = low = close,
    true range reduces to |close − prev close| and the first tick
    seeds atr = 0 (bands collapse onto the price, trend −1) — the
    same recurrence order as the batch bar kernel
    (operators/channels.q_supertrend), so replay is bit-identical to
    the recursive-CTE oracle."""

    def step(state, pdf):
        atr, fub, flb, trend, pc, started = state
        vals = pdf["value"].to_numpy(dtype="float64")
        out_st = np.empty(len(vals), dtype="float64")
        out_tr = np.empty(len(vals), dtype="int32")
        for i, cl in enumerate(vals):
            if not started:
                atr, fub, flb, trend, started = 0.0, cl, cl, -1, True
            else:
                tr = abs(cl - pc)
                atr = atr + alpha * (tr - atr)
                bub = cl + mult * atr
                blb = cl - mult * atr
                fub = bub if (bub < fub or pc > fub) else fub
                flb = blb if (blb > flb or pc < flb) else flb
                if trend == -1 and cl > fub:
                    trend = 1
                elif trend == 1 and cl < flb:
                    trend = -1
            pc = cl
            out_st[i] = flb if trend == 1 else fub
            out_tr[i] = trend
        return (atr, fub, flb, trend, pc, started), {
            "event_id": pdf["event_id"].astype("int64"),
            "ts": pdf["ts"],
            "close": vals,
            "supertrend": out_st,
            "trend": out_tr,
        }

    return step


def supertrend_per_key(sdf: DataFrame, alpha: float = 1.0 / 10.0,
                       mult: float = 3.0) -> DataFrame:
    """Streaming supertrend(10, 3) per user_id — the live band-ratchet
    state machine; state is O(n_keys × 5 scalars). NULL ticks are
    dropped: a NULL close would poison the (atr, bands) state, and the
    recursive-CTE oracle (_stream_supertrend_sql) filters them too."""
    return _keyed_state(sdf, _TICK_COLS, _supertrend_step(alpha, mult),
                        init=(math.nan, math.nan, math.nan, 0, math.nan,
                              False),
                        state_ddl=SUPERTREND_STATE_DDL,
                        output_ddl=SUPERTREND_OUTPUT_DDL, drop_null=True)


# ---------------------------------------------------------------------------
# Event-type transition pairs (live Markov-matrix feed)
# ---------------------------------------------------------------------------

TRANSITIONS_OUTPUT_DDL = "user_id BIGINT, from_type STRING, to_type STRING"
TRANSITIONS_STATE_DDL = "last_type STRING"


def _transition_step(state, pdf):
    """Per-key consecutive (event, next event) pair emitter: the only
    state is the key's LAST event type, carried across micro-batches
    so the pair straddling a batch boundary is emitted exactly once —
    the streaming twin of the batch lead() in
    operators/behavior.q_event_transitions."""
    (last,) = state
    frm: list = []
    to: list = []
    for t in pdf["event_type"].tolist():
        if last is not None:
            frm.append(last)
            to.append(t)
        last = t
    return (last,), ({"from_type": frm, "to_type": to} if frm else None)


def transitions_per_key(sdf: DataFrame) -> DataFrame:
    """Streaming per-key transition pair stream; state is ONE string
    per key — the cheapest possible stateful operator."""
    return _keyed_state(sdf, ["event_type", "ts", "event_id"],
                        _transition_step, init=(None,),
                        state_ddl=TRANSITIONS_STATE_DDL,
                        output_ddl=TRANSITIONS_OUTPUT_DDL)


#: Output mirrors the batch Holt kernel's per-row trajectory
#: (operators/ewm.q_holt_forecast computes the same recurrence).
HOLT_OUTPUT_DDL = ("user_id BIGINT, event_id BIGINT, ts TIMESTAMP, "
                   "close DOUBLE, holt_level DOUBLE, holt_trend DOUBLE")
HOLT_STATE_DDL = "lvl DOUBLE, trend DOUBLE, started BOOLEAN"


def _holt_step(a: float, b_const: float):
    """Checkpointed continuation of the coupled Holt recurrence —
    the same operation order as the batch kernel
    (operators/ewm.q_holt_forecast), so the streamed trajectory is
    bit-identical to the batch fit when events arrive in order."""

    def step(state, pdf):
        lvl, trend, started = state
        vals = pdf["value"].to_numpy(dtype="float64")
        out_l = np.empty(len(vals), dtype="float64")
        out_b = np.empty(len(vals), dtype="float64")
        for i, y in enumerate(vals):
            if not started:
                lvl, trend, started = float(y), 0.0, True
            else:
                l2 = a * float(y) + (1.0 - a) * (lvl + trend)
                trend = b_const * (l2 - lvl) + (1.0 - b_const) * trend
                lvl = l2
            out_l[i] = lvl
            out_b[i] = trend
        return (lvl, trend, started), {
            "event_id": pdf["event_id"].astype("int64"),
            "ts": pdf["ts"],
            "close": vals,
            "holt_level": out_l,
            "holt_trend": out_b,
        }

    return step


#: Output mirrors the batch Kalman kernel's per-row trajectory
#: (operators/ewm.q_kalman_level runs the same recurrence).
KALMAN_OUTPUT_DDL = ("user_id BIGINT, event_id BIGINT, ts TIMESTAMP, "
                     "close DOUBLE, kal_level DOUBLE, kal_p DOUBLE, "
                     "kal_gain DOUBLE")
KALMAN_STATE_DDL = "lvl DOUBLE, p DOUBLE, started BOOLEAN"


def _kalman_step(q_noise: float, r_noise: float):
    """Checkpointed continuation of the coupled Kalman (level,
    variance) recurrence — identical operation order to the batch
    kernel (operators/ewm.q_kalman_level), so the streamed trajectory
    is bit-identical to the batch fit when events arrive in order.
    The first observation of a key has no gain (NaN here; the caller
    normalizes to NULL to match the oracle's first recursive row)."""

    def step(state, pdf):
        lvl, p, started = state
        vals = pdf["value"].to_numpy(dtype="float64")
        out_l = np.empty(len(vals), dtype="float64")
        out_p = np.empty(len(vals), dtype="float64")
        out_k = np.empty(len(vals), dtype="float64")
        for i, y in enumerate(vals):
            if not started:
                lvl, p, gain, started = float(y), 1.0, math.nan, True
            else:
                pp = p + q_noise
                gain = pp / (pp + r_noise)
                lvl = lvl + gain * (float(y) - lvl)
                p = (1.0 - gain) * pp
            out_l[i] = lvl
            out_p[i] = p
            out_k[i] = gain
        return (lvl, p, started), {
            "event_id": pdf["event_id"].astype("int64"),
            "ts": pdf["ts"],
            "close": vals,
            "kal_level": out_l,
            "kal_p": out_p,
            "kal_gain": out_k,
        }

    return step


def kalman_per_key(sdf: DataFrame, q_noise: float = 0.01,
                   r_noise: float = 1.0) -> DataFrame:
    """Streaming Kalman local-level filter per user_id with
    checkpointed (level, variance) state — O(n_keys × 2 doubles).
    NULL ticks are dropped (they would poison the state; the oracle
    filters them)."""
    return _keyed_state(sdf, _TICK_COLS, _kalman_step(q_noise, r_noise),
                        init=(math.nan, math.nan, False),
                        state_ddl=KALMAN_STATE_DDL,
                        output_ddl=KALMAN_OUTPUT_DDL, drop_null=True)


def holt_per_key(sdf: DataFrame, a: float = 0.2,
                 b_const: float = 0.1) -> DataFrame:
    """Streaming Holt level+trend per user_id with checkpointed
    coupled state (lvl, trend, started) — O(n_keys × 2 doubles).
    NULL ticks are dropped: a NaN would poison the (level, trend)
    pair, while the oracle (_stream_holt_sql) and the batch sibling
    q_holt_forecast both filter WHERE value IS NOT NULL."""
    return _keyed_state(sdf, _TICK_COLS, _holt_step(a, b_const),
                        init=(math.nan, math.nan, False),
                        state_ddl=HOLT_STATE_DDL,
                        output_ddl=HOLT_OUTPUT_DDL, drop_null=True)


# ---------------------------------------------------------------------------
# Running peak / drawdown
# ---------------------------------------------------------------------------

DRAWDOWN_OUTPUT_DDL = ("user_id BIGINT, event_id BIGINT, ts TIMESTAMP, "
                       "value DOUBLE, peak DOUBLE, drawdown DOUBLE")
DRAWDOWN_STATE_DDL = "peak DOUBLE"


def _drawdown_step(state, pdf):
    """numpy cummax seeded with the key's prior peak."""
    vals = pdf["value"].to_numpy(dtype="float64")
    peaks = np.maximum.accumulate(np.r_[state[0], vals])[1:]
    return (float(peaks[-1]),), {
        "event_id": pdf["event_id"].astype("int64"),
        "ts": pdf["ts"],
        "value": vals,
        "peak": peaks,
        "drawdown": peaks - vals,
    }


def drawdown_per_key(sdf: DataFrame) -> DataFrame:
    """Per-key running peak and drawdown (peak − value) — the risk
    metric every trading dashboard keeps per symbol. State is one
    double per key."""
    return _keyed_state(sdf, _TICK_COLS, _drawdown_step,
                        init=(float("-inf"),),
                        state_ddl=DRAWDOWN_STATE_DDL,
                        output_ddl=DRAWDOWN_OUTPUT_DDL)


# ---------------------------------------------------------------------------
# Streaming CUSUM / Page-Hinkley drift detector
# ---------------------------------------------------------------------------

CUSUM_OUTPUT_DDL = ("user_id BIGINT, event_id BIGINT, ts TIMESTAMP, "
                    "value DOUBLE, run_mean DOUBLE, s_pos DOUBLE, "
                    "s_neg DOUBLE, drift BOOLEAN")
CUSUM_STATE_DDL = "i BIGINT, mean DOUBLE, s_pos DOUBLE, s_neg DOUBLE"

#: Allowance (dead band) and decision threshold for the two-sided
#: Page test — in the fixture's value units. Shared with the oracle
#: via the `_cusum_drift_sql` constants injection.
CUSUM_K = 5.0
CUSUM_H = 500.0


def _cusum_step(k_allow: float, h_thresh: float):
    """Checkpointed continuation of the two-sided Page/CUSUM drift
    recursion — the LIVE twin of operators/stats.q_cusum_changepoint
    (that one locates a shift in a CLOSED series; this one flags it
    while the stream runs). Per key:

        i=1:  mean = y,  S⁺ = S⁻ = 0
        i≥2:  dev = y − mean_{i−1}
              S⁺ = max(0, S⁺ + dev − k)
              S⁻ = max(0, S⁻ − dev − k)
              mean = mean_{i−1} + dev / i     (running-mean recursion)
              drift = S⁺ > h OR S⁻ > h

    Exact stream/oracle agreement: every step is the same IEEE double
    expression order as the recursive-CTE oracle (dev before clamps,
    clamps before the mean update), so trajectories — and therefore
    the drift booleans — are bit-identical."""

    def step(state, pdf):
        i, mean, s_pos, s_neg = state
        vals = pdf["value"].to_numpy(dtype="float64")
        out = {"run_mean": [], "s_pos": [], "s_neg": [], "drift": []}
        for y in vals:
            y = float(y)
            if i == 0:
                i, mean, s_pos, s_neg = 1, y, 0.0, 0.0
            else:
                i += 1
                dev = y - mean
                s_pos = max(0.0, s_pos + dev - k_allow)
                s_neg = max(0.0, s_neg - dev - k_allow)
                mean = mean + dev / float(i)
            out["run_mean"].append(mean)
            out["s_pos"].append(s_pos)
            out["s_neg"].append(s_neg)
            out["drift"].append(s_pos > h_thresh or s_neg > h_thresh)
        return (i, mean, s_pos, s_neg), {
            "event_id": pdf["event_id"].astype("int64"),
            "ts": pdf["ts"],
            "value": vals,
            **out,
        }

    return step


def cusum_per_key(sdf: DataFrame, k_allow: float = CUSUM_K,
                  h_thresh: float = CUSUM_H) -> DataFrame:
    """Streaming two-sided CUSUM drift detector per user_id with
    checkpointed (i, mean, S⁺, S⁻) state — O(n_keys × 4 scalars).
    NULL ticks are dropped (they would poison the state; the oracle
    filters them)."""
    return _keyed_state(sdf, _TICK_COLS, _cusum_step(k_allow, h_thresh),
                        init=(0, 0.0, 0.0, 0.0),
                        state_ddl=CUSUM_STATE_DDL,
                        output_ddl=CUSUM_OUTPUT_DDL, drop_null=True)


# ---------------------------------------------------------------------------
# Timeout-driven sessionization (event-time timeouts)
# ---------------------------------------------------------------------------

SESSION_OUTPUT_DDL = ("user_id BIGINT, session_start TIMESTAMP, "
                      "session_end TIMESTAMP, n_events BIGINT, "
                      "sum_u6 BIGINT")
#: One OPEN session per key: bounds in int64 micros (state schemas
#: hold no TimestampType), event count, exact 1e-6-unit value sum.
SESSION_STATE_DDL = ("start_us BIGINT, last_us BIGINT, n BIGINT, "
                     "sum_u6 BIGINT")

#: Inactivity gap (micros) — matches stream_session_windows /
#: udtf_sessionize: a new session starts where gap >= 4 h.
_SESSION_GAP_US = 4 * 3600 * 1_000_000


def _session_timeout_fn(gap_us: int):
    """Session state machine with EVENT-TIME TIMEOUTS — the one
    GroupStateTimeout mode no other operator in this module exercises
    (they are all NoTimeout). Sessions closed by in-batch evidence (a
    later event >= gap after) emit immediately; the final open session
    per key can only be proven closed by the CLOCK, so the state
    carries a timeout at last_event + gap and Spark calls back with
    `state.hasTimedOut` once the watermark passes it — state is then
    emitted and removed, exactly the eviction contract
    `F.session_window` implements internally (and the reason a finite
    replay needs the flush sentinel to drive the watermark past the
    last real event)."""
    gap_ms = gap_us // 1000

    def fn(key: tuple, pdf_iter, state: GroupState):
        (user_id,) = key

        def _emit(starts, lasts, ns, sums):
            ends = np.asarray(lasts, dtype="int64") + gap_us
            return pd.DataFrame({
                "user_id": user_id,
                "session_start": pd.to_datetime(
                    np.asarray(starts, dtype="int64"), unit="us"),
                "session_end": pd.to_datetime(ends, unit="us"),
                "n_events": np.asarray(ns, dtype="int64"),
                "sum_u6": np.asarray(sums, dtype="int64"),
            })

        if state.hasTimedOut:
            start_us, last_us, n, sum_u6 = state.get
            state.remove()
            yield _emit([start_us], [last_us], [n], [sum_u6])
            return

        parts = [pdf for pdf in pdf_iter if len(pdf)]
        if not parts:
            if state.exists:  # keep the pending timeout armed
                state.setTimeoutTimestamp(state.get[1] // 1000 + gap_ms)
            return
        pdf = (pd.concat(parts, ignore_index=True)
               .sort_values(["ts", "event_id"]).reset_index(drop=True))
        ts_us = pdf["ts"].to_numpy(dtype="datetime64[us]").astype("int64")
        u6 = pdf["value_u6"].to_numpy(dtype="int64")

        if state.exists:
            st_start, st_last, st_n, st_sum = state.get
        else:
            st_start = st_last = int(ts_us[0])
            st_n, st_sum = 0, 0

        # Vectorized segmentation (replaces the former per-row Python
        # loop — guide §4.2; measured: the loop plus one 1-row
        # DataFrame per closed session dominated the replay's batch-0
        # addBatch time). Rows are sorted, so the running last_us
        # before row i is max(st_last, t_{i-1}) — the max matters only
        # until the first boundary: a boundary row satisfies
        # t_j >= max(st_last, ·) + gap > st_last, and every later row
        # is >= t_j, so the uniform formula is exact for the whole
        # batch. Cross-batch out-of-order events (t < st_last, legal
        # within the watermark delay) therefore absorb monotonically,
        # never regressing session bounds — same contract as before,
        # pinned by tests/test_sessions_and_trends.py.
        prev_last = np.empty_like(ts_us)
        prev_last[0] = st_last
        np.maximum(ts_us[:-1], st_last, out=prev_last[1:])
        boundary = (ts_us - prev_last) >= gap_us
        # boundary[0] True ⇔ an EXISTING open session is closed by the
        # batch's first row: that session emits alone below; the batch
        # then segments as if fresh. (st_n == 0 ⇒ st_last = ts_us[0] ⇒
        # boundary[0] already False.)
        state_closes_alone = bool(boundary[0]) and st_n > 0
        boundary[0] = False
        seg_starts = np.flatnonzero(boundary)
        idx = np.concatenate(([0], seg_starts))
        ends = np.concatenate((idx[1:], [len(ts_us)]))
        firsts = ts_us[idx]
        lasts = ts_us[ends - 1]  # sorted ⇒ per-segment max is the last row
        counts = (ends - idx).astype("int64")
        # reduceat sums int64 with wraparound on overflow (the old
        # Python-int loop would have failed loudly at Arrow
        # conversion). Acceptable under the BIGINT output/state
        # schema: value_u6 is a 1e-6-unit quantization of a bounded
        # price, so one session's sum sits ~9 orders of magnitude
        # under int64 range; sum via Python objects if value_u6
        # magnitudes ever approach it (r10 ADVICE).
        sums = np.add.reduceat(u6, idx)
        if state_closes_alone:
            firsts = np.concatenate(([st_start], firsts))
            lasts = np.concatenate(([st_last], lasts))
            counts = np.concatenate(([st_n], counts))
            sums = np.concatenate(([st_sum], sums))
        else:
            # Segment 0 continues the open state session.
            firsts[0] = min(st_start, int(firsts[0]))
            lasts[0] = max(st_last, int(lasts[0]))
            counts[0] += st_n
            sums[0] += st_sum

        k = len(firsts) - 1  # number of closed sessions (all but the last)
        if k:
            yield _emit(firsts[:k], lasts[:k], counts[:k], sums[:k])

        # The still-open session waits for the clock: fire when the
        # event-time watermark passes last event + gap.
        last_us = int(lasts[k])
        state.update((int(firsts[k]), last_us,
                      int(counts[k]), int(sums[k])))
        state.setTimeoutTimestamp(last_us // 1000 + gap_ms)

    return fn


def sessions_per_key(sdf: DataFrame,
                     gap_us: int = _SESSION_GAP_US) -> DataFrame:
    """Streaming sessionization via event-time-timeout keyed state.
    `sdf` must carry a watermark on `ts` (EventTimeTimeout requires
    one) and a pre-quantized `value_u6` column (exact integer 1e-6
    units — the functions.dsum discipline, summed as Python ints)."""
    return (
        sdf.select("user_id", "event_id", "ts", "value_u6")
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_timeout_fn(gap_us),
            outputStructType=SESSION_OUTPUT_DDL,
            stateStructType=SESSION_STATE_DDL,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
