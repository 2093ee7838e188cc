"""Keyed streaming state machines (SURVEY §2.G6/D4) — the reference's
per-symbol consumer-thread state (`streamlit_app/provider.py:20-22,
107-113`: a 20-record FIFO plus indicators recomputed per key) as
`applyInPandasWithState` operators, partition-parallel and
checkpointed by Spark.

Every NoTimeout machine runs on one adapter, :func:`_keyed_state`,
which owns the select, the optional NULL filter, the grouping, state
load and update, and the output frame. The adapter groups on a state
bucket, ``pmod(hash(user_id), _STATE_BUCKETS)``, not on the key: one
Python call per bucket with rows per micro-batch sorts the bucket's
rows on ``(user_id, ts, event_id)`` and runs the step once per key
segment. A bucket's state is ``keys ARRAY<BIGINT>, states
ARRAY<STRUCT<…>>``, the struct being the machine's ``*_STATE_DDL``;
every key of the bucket is written back each time the bucket runs, and
a key without rows in the batch keeps its state unchanged. A machine
is a pure step with the contract the batch runner
``operators.ewm.keyed_scan`` shares:

    step(state, cols) -> (new_state, out or None)

- ``state`` is the key's tuple in its ``*_STATE_DDL`` layout (the
  machine's ``init`` tuple on the key's first micro-batch);
- ``cols`` maps the machine's input columns to numpy arrays of the
  key's rows of ONE micro-batch, concatenated and sorted ascending on
  ``(ts, event_id)`` — event_id breaks ``ts`` ties, the same order as
  the batch window forms. A machine that names a ``price`` gets each
  tick's ``value`` under that name (``close`` for the indicators, whose
  steps are the batch kernels' own);
- NULL ``value`` ticks arrive as NaN unless the machine asks for
  ``drop_null``, in which case they are filtered out before the
  shuffle (the machines whose recurrence a NaN would poison forever;
  their oracles filter ``value IS NOT NULL`` the same way);
- ``out`` holds only the computed columns, in ``*_OUTPUT_DDL`` order.
  The adapter puts ``user_id`` in front and, for a machine with a
  ``price``, the passthrough ``event_id, ts, <price>`` after it.
  ``None`` emits nothing for this batch.

The EMA, ATR smoothing, Holt and Kalman steps come from
``operators/ewm.py`` and the supertrend step from
``operators/channels.py``: one recurrence per indicator, so a replay is
bit-identical to the batch result and does not depend on how the input
splits into micro-batches. The stream-only machines (last-N,
transitions, drawdown, CUSUM) keep the IEEE op order of their
recursive-CTE oracles.

Scale notes: state is O(n_keys × a few scalars) (last-N: × N). The
shuffle is one hash partitioning on the bucket. PySpark pays about 6 ms
per group per micro-batch (slicing the Arrow batch, JSON state
properties, pickling, one state frame), against under 1 ms for most
steps per key, so per-key groups cost ~6 ms × keys touched; bucket
groups cost ~6 ms × buckets, but the state written per batch grows with
all keys in the buckets the batch touches, not just the keys that had
rows. With ``_STATE_BUCKETS`` = 8 every bucket holds n_keys / 8 keys.
The count is a constant: changing it re-maps keys under an existing
checkpoint. A checkpoint written by the earlier per-key layout (state
keyed on ``user_id``, one row per key) cannot be resumed: Spark's
state-schema check fails the query with
``STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE``, so such a stream restarts
from a new checkpoint. Sessionization (EventTimeTimeout) keeps its
own per-key function below, because its timers belong to a group.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.channels import _SUPERTREND_INIT, _supertrend_step
from ..operators.ewm import (_HOLT_INIT, _KALMAN_INIT, _ewm_init, _ewm_step,
                             _holt_step, _kalman_step, _segment_bounds)


#: Number of state groups the keyed machines hash their keys into.
#: Fixed, not a parameter: a different count re-maps keys to other
#: buckets under an existing checkpoint.
_STATE_BUCKETS = 8


def _plain(v):
    """`v` with numpy scalars and arrays turned into Python values, the
    conversion `GroupState.update` applies only at the top level."""
    if isinstance(v, np.generic):
        return v.item()
    if isinstance(v, np.ndarray):
        return v.tolist()
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    return v


def _keyed_state(sdf: DataFrame, cols: list[str], step, *, init: tuple,
                 state_ddl: str, output_ddl: str, mode: str = "append",
                 drop_null: bool = False, price: str | None = None
                 ) -> DataFrame:
    """Run the pure per-key `step` (module docstring) as a NoTimeout
    `applyInPandasWithState` operator over `user_id` + `cols`, grouped
    by state bucket."""

    def fn(key: tuple, pdf_iter, state: GroupState):
        parts = [pdf for pdf in pdf_iter if len(pdf)]
        if not parts:  # NoTimeout calls only buckets with rows
            return
        pdf = (pd.concat(parts, ignore_index=True)
               .sort_values(["user_id", "ts", "event_id"])
               .reset_index(drop=True))
        uids = pdf["user_id"].to_numpy(dtype="int64")
        arrays = {c: pdf[c].to_numpy() for c in cols}
        keep = {}
        if price is not None:
            arrays[price] = pdf["value"].to_numpy(dtype="float64")
            keep = {"event_id": pdf["event_id"].to_numpy(dtype="int64"),
                    "ts": pdf["ts"].to_numpy(), price: arrays[price]}
        prior = (dict(zip(state.get[0], map(tuple, state.get[1])))
                 if state.exists else {})
        outs = []
        bounds = _segment_bounds(uids).tolist()
        for a, b in zip(bounds, bounds[1:]):
            uid = int(uids[a])
            new_state, out = step(prior.get(uid, init),
                                  {c: v[a:b] for c, v in arrays.items()})
            prior[uid] = _plain(new_state)
            if out is not None:
                n = len(next(iter(out.values())))
                outs.append({"user_id": np.full(n, uid),
                             **{c: v[a:b] for c, v in keep.items()}, **out})
        state.update((list(prior), list(prior.values())))
        if outs:
            yield pd.DataFrame({c: np.concatenate([np.asarray(o[c])
                                                   for o in outs])
                                for c in outs[0]})

    bucket = F.pmod(F.hash("user_id"), F.lit(_STATE_BUCKETS)).alias("bucket")
    sdf = sdf.select(bucket, "user_id", *cols)
    if drop_null:
        sdf = sdf.filter(F.col("value").isNotNull())
    return sdf.groupBy("bucket").applyInPandasWithState(
        fn,
        outputStructType=output_ddl,
        stateStructType=(f"keys ARRAY<BIGINT>, "
                         f"states ARRAY<STRUCT<{state_ddl}>>"),
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
    def step(state, cols):
        ts_us, event_id, value = state
        buf = pd.DataFrame({
            "ts_us": np.r_[np.asarray(ts_us, "int64"),
                           cols["ts"].astype("datetime64[us]")
                           .astype("int64")],
            "event_id": np.r_[np.asarray(event_id, "int64"),
                              cols["event_id"].astype("int64")],
            "value": np.r_[np.asarray(value, "float64"),
                           cols["value"].astype("float64")],
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


def ema_per_key(sdf: DataFrame,
                alphas: tuple[float, float] = (2.0 / 6.0, 2.0 / 16.0)) -> DataFrame:
    """Streaming EMA(5)/EMA(15) per user_id with checkpointed
    accumulator state — the batch EMA's step (operators/ewm._ewm_step),
    so stream output is bit-identical to the batch result when events
    arrive in order. The reference computes this eagerly per dashboard
    refresh (`streamlit_app/streamlit_app.py:165-166,346-347`); here the
    state lives in the checkpoint. One hash shuffle on the state bucket
    per micro-batch; state is O(n_keys x 2 doubles)."""
    step = _ewm_step([(name, "close", alpha)
                      for name, alpha in zip(("ema_5", "ema_15"), alphas)])
    return _keyed_state(sdf, _TICK_COLS, step, init=_ewm_init(len(alphas)),
                        state_ddl=EMA_STATE_DDL, output_ddl=EMA_OUTPUT_DDL,
                        price="close")


ATR_OUTPUT_DDL = ("user_id BIGINT, event_id BIGINT, ts TIMESTAMP, "
                  "close DOUBLE, tr DOUBLE, atr_14 DOUBLE")
ATR_STATE_DDL = "prev DOUBLE, acc DOUBLE, started BOOLEAN"


def _atr_step(alpha: float):
    """Checkpointed Wilder ATR over tick ranges: tr = |x - prev x|
    (NULL on each key's first tick, exactly `abs(value - lag(value))`),
    smoothed by the shared NULL-skipping EMA step — the batch
    operators/channels.q_atr_wilder smoothing, so the streamed
    trajectory is bit-identical to the batch closed form."""
    smooth = _ewm_step([("atr_14", "tr", alpha)])

    def step(state, cols):
        prev, acc, started = state
        x = cols["close"]
        tr = np.abs(x - np.r_[math.nan if prev is None else prev, x[:-1]])
        (accs, ons), out = smooth(([acc], [started]), {"tr": tr})
        return (float(x[-1]), accs[0], ons[0]), {"tr": tr, **out}

    return step


def atr_per_key(sdf: DataFrame, alpha: float = 1.0 / 14.0) -> DataFrame:
    """Streaming Wilder ATR(14) per user_id — live volatility per
    symbol. State is O(n_keys × 2 doubles); one hash shuffle on the
    state bucket per micro-batch, like the EMA/Holt kernels."""
    return _keyed_state(sdf, _TICK_COLS, _atr_step(alpha),
                        init=(math.nan, math.nan, False),
                        state_ddl=ATR_STATE_DDL, output_ddl=ATR_OUTPUT_DDL,
                        price="close")


SUPERTREND_OUTPUT_DDL = ("user_id BIGINT, event_id BIGINT, ts TIMESTAMP, "
                         "close DOUBLE, supertrend DOUBLE, trend INT")
SUPERTREND_STATE_DDL = ("atr DOUBLE, fub DOUBLE, flb DOUBLE, trend INT, "
                        "prev_close DOUBLE, started BOOLEAN")


def supertrend_per_key(sdf: DataFrame, alpha: float = 1.0 / 10.0,
                       mult: float = 3.0) -> DataFrame:
    """Streaming supertrend(10, 3) per user_id — the live band-ratchet
    state machine; state is O(n_keys × 5 scalars). Each tick is a bar
    with high = low = close for the batch supertrend step
    (operators/channels._supertrend_step): true range reduces to
    |close − prev close| and the first tick seeds atr = 0, so replay is
    bit-identical to the recursive-CTE oracle. NULL ticks are dropped:
    a NULL close would poison the (atr, bands) state, and the oracle
    (_stream_supertrend_sql) filters them too."""
    bar = _supertrend_step(alpha, mult)

    def step(state, cols):
        price = cols["close"]
        return bar(state, {"high": price, "low": price, "close": price})

    return _keyed_state(sdf, _TICK_COLS, step, init=_SUPERTREND_INIT,
                        state_ddl=SUPERTREND_STATE_DDL,
                        output_ddl=SUPERTREND_OUTPUT_DDL, drop_null=True,
                        price="close")


# ---------------------------------------------------------------------------
# Event-type transition pairs (live Markov-matrix feed)
# ---------------------------------------------------------------------------

TRANSITIONS_OUTPUT_DDL = "user_id BIGINT, from_type STRING, to_type STRING"
TRANSITIONS_STATE_DDL = "last_type STRING"


def _transition_step(state, cols):
    """Per-key consecutive (event, next event) pair emitter: the only
    state is the key's LAST event type, carried across micro-batches
    so the pair straddling a batch boundary is emitted exactly once —
    the streaming twin of the batch lead() in
    operators/behavior.q_event_transitions."""
    (last,) = state
    frm: list = []
    to: list = []
    for t in cols["event_type"].tolist():
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
#: (operators/ewm.q_holt_forecast runs the same step).
HOLT_OUTPUT_DDL = ("user_id BIGINT, event_id BIGINT, ts TIMESTAMP, "
                   "close DOUBLE, holt_level DOUBLE, holt_trend DOUBLE")
HOLT_STATE_DDL = "lvl DOUBLE, trend DOUBLE, started BOOLEAN"

#: Output mirrors the batch Kalman kernel's per-row trajectory
#: (operators/ewm.q_kalman_level runs the same recurrence).
KALMAN_OUTPUT_DDL = ("user_id BIGINT, event_id BIGINT, ts TIMESTAMP, "
                     "close DOUBLE, kal_level DOUBLE, kal_p DOUBLE, "
                     "kal_gain DOUBLE")
KALMAN_STATE_DDL = "lvl DOUBLE, p DOUBLE, started BOOLEAN"


def kalman_per_key(sdf: DataFrame, q_noise: float = 0.01,
                   r_noise: float = 1.0) -> DataFrame:
    """Streaming Kalman local-level filter per user_id with
    checkpointed (level, variance) state — O(n_keys × 2 doubles), the
    batch kernel's step (operators/ewm._kalman_step), so the streamed
    trajectory is bit-identical to the batch fit when events arrive in
    order. A key's first observation has no gain (NaN here; the caller
    normalizes to NULL). NULL ticks are dropped (they would poison the
    state; the oracle filters them)."""
    return _keyed_state(sdf, _TICK_COLS, _kalman_step(q_noise, r_noise),
                        init=_KALMAN_INIT, state_ddl=KALMAN_STATE_DDL,
                        output_ddl=KALMAN_OUTPUT_DDL, drop_null=True,
                        price="close")


def holt_per_key(sdf: DataFrame, a: float = 0.2,
                 b_const: float = 0.1) -> DataFrame:
    """Streaming Holt level+trend per user_id with checkpointed
    coupled state (lvl, trend, started) — O(n_keys × 2 doubles), the
    batch step (operators/ewm._holt_step), so the streamed trajectory
    is bit-identical to the batch fit when events arrive in order.
    NULL ticks are dropped: a NaN would poison the (level, trend)
    pair, while the oracle (_stream_holt_sql) and the batch sibling
    q_holt_forecast both filter WHERE value IS NOT NULL."""
    return _keyed_state(sdf, _TICK_COLS, _holt_step(a, b_const),
                        init=_HOLT_INIT, state_ddl=HOLT_STATE_DDL,
                        output_ddl=HOLT_OUTPUT_DDL, drop_null=True,
                        price="close")


# ---------------------------------------------------------------------------
# Running peak / drawdown
# ---------------------------------------------------------------------------

DRAWDOWN_OUTPUT_DDL = ("user_id BIGINT, event_id BIGINT, ts TIMESTAMP, "
                       "value DOUBLE, peak DOUBLE, drawdown DOUBLE")
DRAWDOWN_STATE_DDL = "peak DOUBLE"


def _drawdown_step(state, cols):
    """numpy cummax seeded with the key's prior peak."""
    vals = cols["value"]
    peaks = np.maximum.accumulate(np.r_[state[0], vals])[1:]
    return (float(peaks[-1]),), {"peak": peaks, "drawdown": peaks - vals}


def drawdown_per_key(sdf: DataFrame) -> DataFrame:
    """Per-key running peak and drawdown (peak − value) — the risk
    metric every trading dashboard keeps per symbol. State is one
    double per key."""
    return _keyed_state(sdf, _TICK_COLS, _drawdown_step,
                        init=(float("-inf"),),
                        state_ddl=DRAWDOWN_STATE_DDL,
                        output_ddl=DRAWDOWN_OUTPUT_DDL, price="value")


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

    def step(state, cols):
        i, mean, s_pos, s_neg = state
        ys = cols["value"].tolist()
        run_mean = np.empty(len(ys), dtype=np.float64)
        pos = np.empty(len(ys), dtype=np.float64)
        neg = np.empty(len(ys), dtype=np.float64)
        for r, y in enumerate(ys):
            if i == 0:
                i, mean, s_pos, s_neg = 1, y, 0.0, 0.0
            else:
                i += 1
                dev = y - mean
                s_pos = max(0.0, s_pos + dev - k_allow)
                s_neg = max(0.0, s_neg - dev - k_allow)
                mean = mean + dev / float(i)
            run_mean[r], pos[r], neg[r] = mean, s_pos, s_neg
        return (i, mean, s_pos, s_neg), {
            "run_mean": run_mean, "s_pos": pos, "s_neg": neg,
            "drift": (pos > h_thresh) | (neg > h_thresh)}

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
                        output_ddl=CUSUM_OUTPUT_DDL, drop_null=True,
                        price="value")


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
