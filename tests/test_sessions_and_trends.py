"""Direct unit tests for the r7 third-wave operators, independent of
the fixture parity harness:

- the UDTF sessionizer class (pure Python — eval/terminate driven by
  hand, boundary gaps, single-event sessions);
- the EventTimeTimeout session state machine (fake GroupState — the
  timeout branch, in-batch closure, the empty-iterator re-arm path);
- the NoTimeout keyed state machines on the shared adapter (same
  rows and state however the input splits into micro-batches);
- Theil–Sen exact recovery with injected outliers (Spark).
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import Row

from big_data_share_market_spark.operators.udtfs import _GAP, _SessionizeUDTF
from big_data_share_market_spark.streaming.state import (
    _SESSION_GAP_US, _session_timeout_fn)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _row(uid, ts, u6):
    return Row(user_id=uid, ts=ts, value_u6=u6)


def _run_udtf(rows):
    u = _SessionizeUDTF()
    out = []
    for r in rows:
        out.extend(u.eval(r))
    out.extend(u.terminate())
    return out


def test_udtf_single_session():
    rows = [_row(1, T0 + dt.timedelta(hours=i), 1_000_000)
            for i in range(3)]
    (s,) = _run_udtf(rows)
    assert s == (1, T0, T0 + dt.timedelta(hours=2) + _GAP, 3, 3_000_000)


def test_udtf_gap_exactly_at_threshold_splits():
    # Gap >= 4 h starts a new session (the oracle's >= rule).
    rows = [_row(1, T0, 5), _row(1, T0 + _GAP, 7)]
    s1, s2 = _run_udtf(rows)
    assert s1 == (1, T0, T0 + _GAP, 1, 5)
    assert s2 == (1, T0 + _GAP, T0 + 2 * _GAP, 1, 7)


def test_udtf_gap_just_under_threshold_merges():
    eps = dt.timedelta(microseconds=1)
    rows = [_row(1, T0, 5), _row(1, T0 + _GAP - eps, 7)]
    (s,) = _run_udtf(rows)
    assert s[3] == 2 and s[4] == 12


class _FakeState:
    """Minimal GroupState stand-in for driving the state fn by hand."""

    def __init__(self, value=None, timed_out=False):
        self._v = value
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_ms = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def remove(self):
        self._v, self.removed = None, True

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms


def _us(ts: dt.datetime) -> int:
    return int(ts.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000


def _batch(rows):
    return pd.DataFrame({
        "ts": pd.Series([r[0] for r in rows], dtype="datetime64[us]"),
        "event_id": [r[1] for r in rows],
        "value_u6": [r[2] for r in rows],
    })


def test_state_fn_closes_in_batch_and_arms_timeout():
    fn = _session_timeout_fn(_SESSION_GAP_US)
    state = _FakeState()
    rows = [(T0, 1, 10), (T0 + dt.timedelta(hours=1), 2, 20),
            (T0 + dt.timedelta(hours=9), 3, 30)]  # 8 h gap -> closure
    (out,) = list(fn((7,), iter([_batch(rows)]), state))
    assert len(out) == 1  # first session closed by in-batch evidence
    assert out.loc[0, "n_events"] == 2 and out.loc[0, "sum_u6"] == 30
    # Open session (the 3rd event) in state, timeout at last + gap.
    start_us, last_us, n, sum_u6 = state.get
    assert n == 1 and sum_u6 == 30
    assert state.timeout_ms == last_us // 1000 + _SESSION_GAP_US // 1000


def test_state_fn_timeout_branch_emits_and_removes():
    fn = _session_timeout_fn(_SESSION_GAP_US)
    start = _us(T0)
    last = _us(T0 + dt.timedelta(hours=1))
    state = _FakeState(value=(start, last, 2, 99), timed_out=True)
    (out,) = list(fn((7,), iter([]), state))
    assert state.removed
    assert out.loc[0, "n_events"] == 2 and out.loc[0, "sum_u6"] == 99
    assert out.loc[0, "session_start"] == pd.Timestamp(T0)
    assert (out.loc[0, "session_end"]
            == pd.Timestamp(T0 + dt.timedelta(hours=1) + _GAP))


def test_state_fn_empty_iterator_rearms_timeout():
    fn = _session_timeout_fn(_SESSION_GAP_US)
    last = _us(T0)
    state = _FakeState(value=(last, last, 1, 5))
    assert list(fn((7,), iter([]), state)) == []
    assert state.timeout_ms == last // 1000 + _SESSION_GAP_US // 1000
    assert state.get == (last, last, 1, 5)  # untouched


def test_state_fn_session_spans_batches():
    fn = _session_timeout_fn(_SESSION_GAP_US)
    state = _FakeState()
    list(fn((7,), iter([_batch([(T0, 1, 10)])]), state))
    rows2 = [(T0 + dt.timedelta(hours=1), 2, 20)]
    assert list(fn((7,), iter([_batch(rows2)]), state)) == []
    # Merged into ONE open session across the batch boundary.
    start_us, last_us, n, sum_u6 = state.get
    assert (start_us, n, sum_u6) == (_us(T0), 2, 30)


def test_state_fn_cross_batch_disorder_does_not_regress_bounds():
    """A cross-batch OUT-OF-ORDER event (legal within the watermark
    delay) must be absorbed monotonically: last_us must not regress
    (a regressed last would falsely split the next session and arm a
    stale timeout) and start_us must not move forward."""
    fn = _session_timeout_fn(_SESSION_GAP_US)
    state = _FakeState()
    list(fn((7,), iter([_batch([(T0, 1, 10),
                                (T0 + dt.timedelta(hours=2), 2, 20)])]),
            state))
    # Late arrival BETWEEN the two seen events.
    late = [(T0 + dt.timedelta(hours=1), 3, 5)]
    assert list(fn((7,), iter([_batch(late)]), state)) == []
    start_us, last_us, n, sum_u6 = state.get
    assert start_us == _us(T0)                          # unchanged
    assert last_us == _us(T0 + dt.timedelta(hours=2))   # NOT regressed
    assert (n, sum_u6) == (3, 35)
    assert state.timeout_ms == last_us // 1000 + _SESSION_GAP_US // 1000
    # An event even EARLIER than the session start widens it backward.
    earlier = [(T0 - dt.timedelta(hours=1), 4, 1)]
    assert list(fn((7,), iter([_batch(earlier)]), state)) == []
    start_us, last_us, n, sum_u6 = state.get
    assert start_us == _us(T0 - dt.timedelta(hours=1))
    assert last_us == _us(T0 + dt.timedelta(hours=2))
    assert (n, sum_u6) == (4, 36)


def _scalar_reference_batch(state_tuple, rows_sorted, gap_us):
    """The pre-r10 per-row loop, kept as the executable spec for the
    vectorized kernel (r10 optimization: numpy segmentation + one
    emitted frame per batch). Returns (emitted sessions as tuples,
    new state tuple)."""
    if state_tuple is not None:
        start_us, last_us, n, sum_u6 = state_tuple
    else:
        start_us = last_us = rows_sorted[0][0]
        n, sum_u6 = 0, 0
    out = []
    for t, v in rows_sorted:
        if n and t - last_us >= gap_us:
            out.append((start_us, last_us + gap_us, n, sum_u6))
            start_us, last_us, n, sum_u6 = t, t, 0, 0
        elif n == 0:
            start_us = last_us = t
        else:
            start_us = min(start_us, t)
            last_us = max(last_us, t)
        n += 1
        sum_u6 += int(v)
    return out, (start_us, last_us, n, sum_u6)


def test_state_fn_vectorized_matches_scalar_reference_randomized():
    """Property pin for the r10 vectorized kernel: random multi-batch
    replays (duplicate timestamps, cross-batch disorder, singleton and
    empty batches) must emit exactly the sessions — and leave exactly
    the state — the scalar reference loop produces."""
    import random

    gap_us = _SESSION_GAP_US
    rng = random.Random(20261017)
    for _trial in range(25):
        # A stream of event times with occasional >gap jumps and some
        # duplicates; split into 1-4 batches with mild cross-batch
        # disorder (each batch is sorted before the kernel runs, so
        # only the batch SPLIT positions and state carry matter).
        t = 1_700_000_000_000_000
        events = []
        for i in range(rng.randint(1, 60)):
            step = (rng.choice([-3600, -1, 0, 1, 60, 3600, 3 * 3600])
                    * 1_000_000
                    if rng.random() > 0.15 else
                    rng.choice([4 * 3600, 5 * 3600, 24 * 3600]) * 1_000_000)
            t += step
            events.append((t, rng.randint(-5, 10**9)))
        n_batches = rng.randint(1, 4)
        cuts = sorted(rng.sample(range(1, len(events) + 1),
                                 min(n_batches - 1, len(events) - 1))
                      if len(events) > 1 else [])
        batches, lo = [], 0
        for c in cuts + [len(events)]:
            batches.append(events[lo:c])
            lo = c

        fn = _session_timeout_fn(gap_us)
        state = _FakeState()
        ref_state = None
        got, want = [], []
        for batch in batches:
            if not batch:
                continue
            rows_sorted = sorted(batch)
            pdf = pd.DataFrame({
                "ts": pd.Series([pd.Timestamp(t, unit="us")
                                 for t, _ in batch], dtype="datetime64[us]"),
                "event_id": range(len(batch)),
                "value_u6": [v for _, v in batch],
            })
            for out in fn((7,), iter([pdf]), state):
                got.extend(
                    (int(r.session_start.value // 1000),
                     int(r.session_end.value // 1000),
                     int(r.n_events), int(r.sum_u6))
                    for r in out.itertuples())
            emitted, ref_state = _scalar_reference_batch(
                ref_state, rows_sorted, gap_us)
            want.extend(emitted)
        assert got == want
        assert state.get == ref_state


class _CaptureStream:
    """Stands in for a streaming DataFrame: records the column select,
    the optional ``value IS NOT NULL`` filter and the function handed
    to ``applyInPandasWithState``, so a test can drive that function
    by hand with :class:`_FakeState`."""

    def __init__(self):
        self.cols, self.drop_null, self.call = None, False, None

    def select(self, *cols):
        self.cols = list(cols)
        return self

    def filter(self, cond):
        from pyspark.sql import functions as F

        assert str(cond) == str(F.col("value").isNotNull())
        self.drop_null = True
        return self

    def groupBy(self, *keys):
        assert keys == ("user_id",)
        return self

    def applyInPandasWithState(self, func, outputStructType,
                               stateStructType, outputMode, timeoutConf):
        self.call = (func, outputStructType, outputMode)
        return self


def _split_series(seed: int = 20261017, n_keys: int = 4,
                  per_key: int = 30) -> pd.DataFrame:
    """A seeded multi-key tick series with NULL values and runs of
    equal ``ts`` (ties broken by event_id), rows in random order."""
    import numpy as np

    rng = np.random.default_rng(seed)
    n = n_keys * per_key
    values = 100.0 + np.cumsum(rng.normal(0.0, 2.0, n))
    values[rng.random(n) < 0.12] = np.nan
    return pd.DataFrame({
        "user_id": np.repeat(np.arange(1, n_keys + 1), per_key),
        "event_id": rng.permutation(n).astype("int64"),
        "ts": (pd.Timestamp(T0)
               + pd.to_timedelta(rng.integers(0, per_key // 2, n), unit="s")
               ).astype("datetime64[ns]"),
        "value": values,
        "event_type": rng.choice(["view", "click", "cart", "purchase"], n),
    })


def _norm_state(v):
    """State tuples compared exactly, NaN included (float.hex)."""
    if isinstance(v, (list, tuple)):
        return tuple(_norm_state(x) for x in v)
    if isinstance(v, float):
        return ("f", v.hex())
    if hasattr(v, "item"):  # numpy scalar
        return _norm_state(v.item())
    return v


def _replay(func, mode, batches):
    """Drive a captured state function over micro-batches the way
    Spark does: once per key with rows, each key's rows split over
    two input frames, state carried between batches."""
    states: dict = {}
    outs: dict = {}
    for batch in batches:
        for uid, rows in batch.groupby("user_id", sort=True):
            half = len(rows) // 2
            frames = [rows.iloc[:half], rows.iloc[half:]]
            state = states.setdefault(uid, _FakeState())
            emitted = list(func((int(uid),), iter(frames), state))
            if mode == "update":  # the key's latest emission holds
                outs[uid] = emitted
            else:
                outs.setdefault(uid, []).extend(emitted)
    frames = [f for uid in sorted(outs) for f in outs[uid]]
    out = pd.concat(frames, ignore_index=True)
    return out, {uid: _norm_state(s.get) for uid, s in states.items()}


_STATE_MACHINES = [
    ("last_n_per_key", {"n": 5}), ("ema_per_key", {}),
    ("atr_per_key", {}), ("supertrend_per_key", {}),
    ("transitions_per_key", {}), ("holt_per_key", {}),
    ("kalman_per_key", {}), ("drawdown_per_key", {}),
    ("cusum_per_key", {}),
]


@pytest.mark.usefixtures("spark")
@pytest.mark.parametrize("name,kwargs", _STATE_MACHINES,
                         ids=[m for m, _ in _STATE_MACHINES])
def test_state_machine_output_independent_of_batch_split(name, kwargs):
    """Every NoTimeout keyed state machine must emit the same rows and
    leave the same state whether the series arrives as one micro-batch
    or as three that carry state between them. The oracle replays read
    one fixture file, so they only ever see a single micro-batch."""
    import numpy as np

    from big_data_share_market_spark.streaming import state as st

    cap = _CaptureStream()
    getattr(st, name)(cap, **kwargs)
    func, output_ddl, mode = cap.call
    series = _split_series()[cap.cols]
    if cap.drop_null:
        series = series[series["value"].notna()]
    ordered = series.sort_values(["ts", "event_id"])
    assert ordered["ts"].duplicated().any()
    if "value" in cap.cols and not cap.drop_null:
        assert ordered["value"].isna().any()

    rng = np.random.default_rng(7)

    def shuffled(df):
        return df.iloc[rng.permutation(len(df))]

    n = len(ordered)
    cuts = [0, n // 3, 2 * n // 3, n]
    split = [shuffled(ordered.iloc[a:b]) for a, b in zip(cuts, cuts[1:])]
    whole_out, whole_state = _replay(func, mode, [shuffled(ordered)])
    split_out, split_state = _replay(func, mode, split)

    assert list(whole_out.columns) == [
        c.split()[0] for c in output_ddl.split(",")]
    assert len(whole_out) > 0
    pd.testing.assert_frame_equal(split_out, whole_out, check_exact=True)
    assert split_state == whole_state


def test_state_machines_share_one_adapter():
    """The keyed state machines run on `_keyed_state`: state.py holds
    one applyInPandasWithState call for them plus sessionization's
    own (EventTimeTimeout), and the v2 transformWithStateInPandas path
    stays gone from the package."""
    import pathlib

    import big_data_share_market_spark as pkg
    from big_data_share_market_spark.streaming import state as st

    src = pathlib.Path(st.__file__).read_text()
    assert src.count(".applyInPandasWithState(") == 2
    root = pathlib.Path(pkg.__file__).parent
    assert not [p for p in root.rglob("*.py")
                if "transformWithStateInPandas" in p.read_text()]


@pytest.mark.usefixtures("spark")
def test_theil_sen_exact_recovery_with_outliers(spark):
    """y = 2.5 * hours exactly, plus 2 gross outliers out of 12 points:
    the median pairwise slope must still be exactly 2.5 (OLS would be
    dragged). 12 points -> 66 pairs, 21 touched by outliers — the
    median lands in the clean majority."""
    from big_data_share_market_spark.operators.regression import theil_sen_fit

    hour_us = 3_600_000_000
    pts = [(1, i, i * hour_us, 2.5 * i) for i in range(10)]
    pts += [(1, 100, 10 * hour_us, 1e6), (1, 101, 11 * hour_us, -1e6)]
    e = spark.createDataFrame(pts, "user_id long, event_id long,"
                                   " t long, v double")
    (row,) = theil_sen_fit(e).collect()
    assert row.n_pairs == 66
    assert row.slope_per_hour == 2.5


def test_theil_sen_series_length_guard_degrades_loudly():
    """The O(n²/2)-per-key kernel must refuse an over-long series with
    an error naming the bounded-work lane, not OOM an executor (r10
    ADVICE). Unit-level: the guard is module-level so the worker-side
    kernel and this test share one implementation."""
    import pytest as _pytest

    from big_data_share_market_spark.operators.regression import (
        _THEIL_SEN_MAX_SERIES, _check_series_len)

    _check_series_len(_THEIL_SEN_MAX_SERIES, 1)  # at the bound: fine
    with _pytest.raises(ValueError, match="theil_sen_capped"):
        _check_series_len(_THEIL_SEN_MAX_SERIES + 1, 1)


@pytest.mark.usefixtures("spark")
def test_kernel_width_scales_with_input_bytes(spark):
    """keyed_repartition keeps the plain repartition(key) when the
    session default bounds partition bytes (identical local plans) and
    widens explicitly when the size estimate demands it (r10 verdict
    item 5 — partition bytes must not grow linearly with input)."""
    from big_data_share_market_spark.tables import (
        kernel_width, keyed_repartition)

    df = spark.range(0, 10_000).selectExpr("id AS user_id", "id AS v")
    # Small input, 128 MB target: default width already bounds it.
    assert kernel_width(df) is None
    plan_default = keyed_repartition(df, "user_id")._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert "RepartitionByExpression [user_id" in plan_default
    # Force the scale regime with a tiny per-partition target: the
    # explicit width must exceed the session default.
    w = kernel_width(df, per_partition_bytes=1024)
    assert w is not None
    assert w > int(spark.conf.get("spark.sql.shuffle.partitions"))
    wide = keyed_repartition(df, "user_id", per_partition_bytes=1024)
    assert f", {w}" in wide._jdf.queryExecution().optimizedPlan() \
        .toString().splitlines()[0]
