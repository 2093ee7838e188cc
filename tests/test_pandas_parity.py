"""Ground-truth parity against the reference's own computation engine
(pandas), per SURVEY §7 hard-part 1: the DuckDB oracle only proves
Spark ≡ oracle; these tests prove both ≡ pandas semantics as the
reference wrote them (`streamlit_app/streamlit_app.py:165-204`).

Tolerance-based (rtol 1e-9): our recurrence `acc + a*(x-acc)` is
algebraically but not bitwise pandas' `(1-a)*acc + a*x`.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from big_data_share_market_spark.operators.ewm import ewm_mean


@pytest.fixture(scope="module")
def series():
    rng = np.random.default_rng(42)
    return pd.Series(100 + rng.standard_normal(500).cumsum())


@pytest.mark.parametrize("span", [5, 9, 12, 15, 26])
def test_ewm_matches_pandas_span(series, span):
    ours = ewm_mean(series.to_numpy(), 2.0 / (span + 1.0))
    ref = series.ewm(span=span, adjust=False).mean().to_numpy()
    np.testing.assert_allclose(ours, ref, rtol=1e-9)


def test_ewm_matches_pandas_alpha(series):
    ours = ewm_mean(series.to_numpy(), 1.0 / 14.0)
    ref = series.ewm(alpha=1 / 14, adjust=False).mean().to_numpy()
    np.testing.assert_allclose(ours, ref, rtol=1e-9)


def test_ewm_leading_nan_seeds_at_first_valid(series):
    s = series.copy()
    s.iloc[0] = np.nan
    ours = ewm_mean(s.to_numpy(), 2.0 / 6.0)
    ref = s.ewm(span=5, adjust=False).mean().to_numpy()
    assert np.isnan(ours[0]) and np.isnan(ref[0])
    np.testing.assert_allclose(ours[1:], ref[1:], rtol=1e-9)


def test_rsi_matches_pandas(spark):
    """Spark RSI pipeline vs the reference formula in pandas, on the
    real events fixture, NaN↔NULL aligned."""
    from big_data_share_market_spark.operators.indicators import q_rsi
    from .conftest import SF_DIR

    got = (q_rsi(spark, SF_DIR).orderBy("user_id", "ts", "event_id")
           .toPandas())
    import duckdb
    ev = duckdb.sql(
        f"SELECT user_id, event_id, ts, value FROM '{SF_DIR}/events.parquet' "
        "ORDER BY user_id, ts, event_id").fetchdf()
    out = []
    for uid, g in ev.groupby("user_id", sort=True):
        close = g["value"].reset_index(drop=True)
        delta = close.diff()
        gain = (delta.where(delta > 0, 0)).rolling(window=14).mean()
        loss = (-delta.where(delta < 0, 0)).rolling(window=14).mean()
        rs = gain / loss
        out.append(100 - (100 / (1 + rs)))
    ref = pd.concat(out).to_numpy()
    ours = got["rsi_14"].to_numpy()
    both_nan = np.isnan(ref) & np.isnan(ours)
    np.testing.assert_allclose(ours[~both_nan], ref[~both_nan], rtol=1e-9)


def test_sma_matches_pandas(spark):
    from big_data_share_market_spark.operators.indicators import q_sma
    from .conftest import SF_DIR

    got = (q_sma(spark, SF_DIR).orderBy("user_id", "ts", "event_id").toPandas())
    import duckdb
    ev = duckdb.sql(
        f"SELECT user_id, value FROM '{SF_DIR}/events.parquet' "
        "ORDER BY user_id, ts, event_id").fetchdf()
    ref = (ev.groupby("user_id", sort=True)["value"]
           .apply(lambda s: s.rolling(window=20).mean())
           .to_numpy())
    ours = got["sma_20"].to_numpy()
    both_nan = np.isnan(ref) & np.isnan(ours)
    np.testing.assert_allclose(ours[~both_nan], ref[~both_nan], rtol=1e-9)


def test_stochastic_matches_pandas(spark):
    """Spark stochastic %K/%D vs the pandas rolling formulation
    (rolling(14) extrema, rolling(3, min_periods=3) mean of %K)."""
    from big_data_share_market_spark.operators.indicators import q_stochastic
    from .conftest import SF_DIR

    got = (q_stochastic(spark, SF_DIR).orderBy("user_id", "ts", "event_id")
           .toPandas())
    import duckdb
    ev = duckdb.sql(
        f"SELECT user_id, value FROM '{SF_DIR}/events.parquet' "
        "ORDER BY user_id, ts, event_id").fetchdf()
    ks, ds = [], []
    for _uid, g in ev.groupby("user_id", sort=True):
        s = g["value"].reset_index(drop=True)
        lo = s.rolling(14).min()
        hi = s.rolling(14).max()
        k = 100 * (s - lo) / (hi - lo)
        ks.append(k)
        ds.append(k.rolling(3, min_periods=3).mean())
    for col, ref_series in (("pct_k", ks), ("pct_d", ds)):
        ref = pd.concat(ref_series).to_numpy()
        ours = got[col].to_numpy()
        both_nan = np.isnan(ref) & np.isnan(ours)
        np.testing.assert_allclose(ours[~both_nan], ref[~both_nan],
                                   rtol=1e-9)


def test_minhash_recall_is_subset_of_exact_jaccard(spark):
    """LSH invariant: every MinHash-verified pair must appear in the
    TRULY exhaustive all-pairs Jaccard set with the same score (LSH
    prunes candidates, never invents them). The exhaustive reference
    is computed independently in pure Python — q_ngram_jaccard_dedup
    no longer qualifies as the reference since r3 made it df-capped
    (recall-lossy by design)."""
    import re

    import duckdb
    from big_data_share_market_spark.operators.dedup import (
        q_minhash_lsh_dedup, q_ngram_jaccard_dedup)
    from .conftest import SF_DIR

    docs = duckdb.connect().execute(
        f"SELECT doc_id, text FROM '{SF_DIR}/documents.parquet'").fetchall()
    shingles = {}
    for doc_id, text in docs:
        w = re.split(r"\s+", text.strip().lower())
        if len(w) >= 3:
            shingles[doc_id] = {" ".join(w[i:i + 3])
                                for i in range(len(w) - 2)}
    ids = sorted(shingles)
    exhaustive = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(shingles[a] & shingles[b])
            if inter:
                j = inter / (len(shingles[a]) + len(shingles[b]) - inter)
                if j >= 0.8:
                    exhaustive[(a, b)] = j
    lsh = {(r.a_id, r.b_id): r.jaccard
           for r in q_minhash_lsh_dedup(spark, SF_DIR).collect()}
    assert set(lsh) <= set(exhaustive)
    for pair, j in lsh.items():
        assert abs(j - exhaustive[pair]) < 1e-12
    # and the df-capped shingle join is a subset of the same reference
    capped = {(r.a_id, r.b_id): r.jaccard
              for r in q_ngram_jaccard_dedup(spark, SF_DIR).collect()}
    assert set(capped) <= set(exhaustive)


def test_embedding_neardup_subset_of_brute_force(spark):
    """Same invariant for the hyperplane-LSH embedding near-dup: its
    pairs are a subset of the brute-force >= threshold pair set."""
    import duckdb
    from big_data_share_market_spark.operators.similarity import (
        _ND_THRESHOLD, q_embedding_neardup)
    from .conftest import SF_DIR

    got = {(r.a_id, r.b_id) for r in q_embedding_neardup(spark, SF_DIR).collect()}
    dot = ("list_reduce(list_transform(range(1, len({a}) + 1), "
           "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), "
           "(acc, v) -> acc + v)")
    ab = dot.format(a="x.embedding", b="y.embedding")
    aa = dot.format(a="x.embedding", b="x.embedding")
    bb = dot.format(a="y.embedding", b="y.embedding")
    all_pairs = duckdb.sql(
        f"SELECT x.vec_id AS a, y.vec_id AS b "
        f"FROM '{SF_DIR}/embeddings.parquet' x, "
        f"     '{SF_DIR}/embeddings.parquet' y "
        f"WHERE x.vec_id < y.vec_id "
        f"AND {ab} / nullif(sqrt({aa}) * sqrt({bb}), 0.0) >= {_ND_THRESHOLD}"
    ).fetchall()
    assert got <= {(a, b) for a, b in all_pairs}


def test_channel_indicators_match_pandas(spark):
    """ATR-Wilder / CCI / MFI vs independent pandas formulations over
    independently-built hourly bars — proves the Spark+oracle pair ≡
    textbook semantics, not just Spark ≡ oracle. CCI compares at
    rtol 1e-6 (the engine quantizes |tp−sma| to integer 1e-9 ticks so
    the MAD fold is order-free; pandas sums raw doubles), MFI at
    rtol 1e-8 (decimal-exact rolling sums vs pandas float sums)."""
    import duckdb

    from big_data_share_market_spark.operators.channels import (
        q_atr_wilder, q_cci, q_mfi)
    from .conftest import SF_DIR

    ev = duckdb.sql(
        f"SELECT user_id, event_id, ts, value FROM '{SF_DIR}/events.parquet' "
        "ORDER BY user_id, ts, event_id").fetchdf()
    ev["bar_ts"] = ev["ts"].dt.floor("h")
    bars = (ev.groupby(["user_id", "bar_ts"], sort=True)
            .agg(high=("value", "max"), low=("value", "min"),
                 close=("value", "last"), volume=("value", "size"))
            .reset_index())
    refs = []
    for uid, g in bars.groupby("user_id", sort=True):
        g = g.sort_values("bar_ts").reset_index(drop=True)
        prev_c = g["close"].shift()
        tr = pd.concat([g["high"] - g["low"], (g["high"] - prev_c).abs(),
                        (g["low"] - prev_c).abs()], axis=1).max(axis=1)
        atr = tr.ewm(alpha=1 / 14, adjust=False).mean()
        tp = (g["high"] + g["low"] + g["close"]) / 3
        sma = tp.rolling(20).mean()
        mad = tp.rolling(20).apply(
            lambda w: np.abs(w - w.mean()).mean(), raw=True)
        cci = (tp - sma) / (0.015 * mad)
        pm = tp.gt(tp.shift()) * tp * g["volume"]
        nm = tp.lt(tp.shift()) * tp * g["volume"]
        mfi = 100 - 100 / (1 + pm.rolling(14).mean() / nm.rolling(14).mean())
        refs.append(pd.DataFrame(
            {"atr": atr, "cci": cci,
             "mfi": mfi.replace([np.inf, -np.inf], np.nan)}))
    ref = pd.concat(refs, ignore_index=True)

    def fetch(q, col):
        return (q(spark, SF_DIR).orderBy("user_id", "bar_ts")
                .toPandas()[col].to_numpy(dtype="float64"))

    np.testing.assert_allclose(fetch(q_atr_wilder, "atr_14"),
                               ref["atr"].to_numpy(), rtol=1e-9)
    np.testing.assert_allclose(fetch(q_cci, "cci_20"),
                               ref["cci"].to_numpy(), rtol=1e-6)
    np.testing.assert_allclose(fetch(q_mfi, "mfi_14"),
                               ref["mfi"].to_numpy(), rtol=1e-8)


def test_trix_matches_pandas(spark):
    """TRIX(15) vs pandas ewm chained three times + pct_change over
    independently-built hourly bars."""
    import duckdb

    from big_data_share_market_spark.operators.channels import q_trix
    from .conftest import SF_DIR

    ev = duckdb.sql(
        f"SELECT user_id, event_id, ts, value FROM '{SF_DIR}/events.parquet' "
        "ORDER BY user_id, ts, event_id").fetchdf()
    ev["bar_ts"] = ev["ts"].dt.floor("h")
    bars = (ev.groupby(["user_id", "bar_ts"], sort=True)
            .agg(close=("value", "last")).reset_index())
    refs = []
    for uid, g in bars.groupby("user_id", sort=True):
        c = g.sort_values("bar_ts")["close"].reset_index(drop=True)
        e3 = (c.ewm(span=15, adjust=False).mean()
              .ewm(span=15, adjust=False).mean()
              .ewm(span=15, adjust=False).mean())
        refs.append(100.0 * e3.pct_change())
    ref = pd.concat(refs, ignore_index=True).to_numpy()
    got = (q_trix(spark, SF_DIR).orderBy("user_id", "bar_ts")
           .toPandas()["trix"].to_numpy(dtype="float64"))
    np.testing.assert_allclose(got, ref, rtol=1e-7)


def _ewm_partition_fn(alpha):
    """keyed_scan's partition function for one EMA of `close`, as
    _apply_ewm builds it (dense form plus per-key step)."""
    from big_data_share_market_spark.operators.ewm import (
        _ewm_dense, _ewm_init, _ewm_step, _scan_kernel)

    specs = [("e", "close", alpha)]
    return _scan_kernel(_ewm_step(specs), _ewm_init(1), ["close"],
                        ["user_id", "close", "e"], _ewm_dense(specs))


def _kalman_partition_fn():
    """keyed_scan's partition function for the Kalman filter, as
    q_kalman_level builds it (dense form plus per-key step)."""
    from big_data_share_market_spark.operators.ewm import (
        _KAL_Q, _KAL_R, _KALMAN_INIT, _kalman_dense, _kalman_step,
        _scan_kernel)

    return _scan_kernel(_kalman_step(_KAL_Q, _KAL_R), _KALMAN_INIT,
                        ["close", "rn"],
                        ["user_id", "rn", "close", "kal_level", "kal_p",
                         "kal_gain"], _kalman_dense(_KAL_Q, _KAL_R))


def test_kalman_kernel_bit_equals_scalar_loop():
    """The r7 vectorized Kalman kernel (rank-indexed gain table +
    across-key matrix recurrence) must be BIT-IDENTICAL to the
    straightforward per-row scalar loop — not merely close: the DuckDB
    oracle executes the scalar op order, so any reassociation would
    surface as a hash mismatch at driver time. Property-tested over
    random key layouts (varying series lengths, single-row keys) and
    random Arrow-batch splits (keys straddling batch boundaries
    exercise the carry path)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from big_data_share_market_spark.operators.ewm import _KAL_Q, _KAL_R

    def scalar_reference(pdf):
        import math
        out_l, out_p, out_k = [], [], []
        carry_key, lvl, p, gain, started = None, None, None, None, False
        for key, y in zip(pdf["user_id"], pdf["close"]):
            if key != carry_key:
                started = False
                carry_key = key
            if not started:
                lvl, p, gain, started = float(y), 1.0, math.nan, True
            else:
                pp = p + _KAL_Q
                gain = pp / (pp + _KAL_R)
                lvl = lvl + gain * (float(y) - lvl)
                p = (1.0 - gain) * pp
            out_l.append(lvl)
            out_p.append(p)
            out_k.append(gain)
        return out_l, out_p, out_k

    @settings(max_examples=40, deadline=None)
    @given(st.data())
    def run(data):
        n_keys = data.draw(st.integers(1, 6))
        lens = [data.draw(st.integers(1, 40)) for _ in range(n_keys)]
        rows = []
        rng = np.random.default_rng(data.draw(st.integers(0, 2**31)))
        for k, ln in enumerate(lens):
            ys = 100 + rng.standard_normal(ln).cumsum()
            for i, y in enumerate(ys):
                rows.append((k, i + 1, float(y)))
        pdf = pd.DataFrame(rows, columns=["user_id", "rn", "close"])
        # Random batch split, including degenerate empty batches.
        cuts = sorted(data.draw(
            st.lists(st.integers(0, len(pdf)), max_size=4)))
        bounds = [0, *cuts, len(pdf)]
        batches = [pdf.iloc[a:b].reset_index(drop=True)
                   for a, b in zip(bounds, bounds[1:])]
        got = pd.concat(list(_kalman_partition_fn()(iter(batches))),
                        ignore_index=True)
        assert len(got) == len(pdf)
        want_l, want_p, want_k = scalar_reference(pdf)
        # Bitwise: == on floats, NaN compared by equal_nan pairing.
        np.testing.assert_array_equal(got["kal_level"].to_numpy(),
                                      np.array(want_l))
        np.testing.assert_array_equal(got["kal_p"].to_numpy(),
                                      np.array(want_p))
        np.testing.assert_array_equal(got["kal_gain"].to_numpy(),
                                      np.array(want_k))

    run()


def test_ewm_kernel_bit_equals_scalar_loop():
    """The r7 vectorized _apply_ewm kernel must be bit-identical to
    the scalar ewm_mean loop (which IS the oracle's list_reduce op
    order), including the NaN-skip-carry semantics: NaN keeps the
    accumulator, the first valid value seeds. Random key layouts, NaN
    patterns and batch splits (carry across batch boundaries)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from big_data_share_market_spark.operators.ewm import ewm_mean

    @settings(max_examples=40, deadline=None)
    @given(st.data())
    def run(data):
        alpha = data.draw(st.sampled_from([2 / 6, 2 / 16, 1 / 14, 0.5]))
        n_keys = data.draw(st.integers(1, 6))
        lens = [data.draw(st.integers(1, 40)) for _ in range(n_keys)]
        rng = np.random.default_rng(data.draw(st.integers(0, 2**31)))
        frames, want = [], []
        for k, ln in enumerate(lens):
            ys = 100 + rng.standard_normal(ln).cumsum()
            nan_at = rng.random(ln) < 0.25  # incl. possible leading NaN
            ys[nan_at] = np.nan
            frames.append(pd.DataFrame({"user_id": k, "close": ys}))
            want.append(ewm_mean(ys, alpha))
        pdf = pd.concat(frames, ignore_index=True)
        want = np.concatenate(want)
        cuts = sorted(data.draw(
            st.lists(st.integers(0, len(pdf)), max_size=4)))
        bounds = [0, *cuts, len(pdf)]
        batches = [pdf.iloc[a:b].reset_index(drop=True)
                   for a, b in zip(bounds, bounds[1:])]
        kern = _ewm_partition_fn(alpha)
        got = pd.concat(list(kern(iter(batches))), ignore_index=True)
        assert len(got) == len(pdf)
        np.testing.assert_array_equal(got["e"].to_numpy(), want)

    run()


def test_skewed_batch_takes_scalar_fallback_bit_equal():
    """Review fix (r7): a batch with one long key + many singleton
    keys must NOT materialize the (segments × max_len) padded matrix
    (quadratic in the batch under skew) — _dense_layout_ok routes it
    through the scalar loop, and the output must still be
    bit-identical. Exercises both kernels on a layout where
    cells = 401 × 2000 ≫ max(4·n, 2^16)."""
    from big_data_share_market_spark.operators.ewm import (
        _KAL_Q, _KAL_R, _dense_layout_ok, ewm_mean)

    rng = np.random.default_rng(13)
    long_key = pd.DataFrame({
        "user_id": 0, "close": 100 + rng.standard_normal(2000).cumsum()})
    singles = pd.DataFrame({
        "user_id": np.arange(1, 401),
        "close": 100 + rng.standard_normal(400)})
    pdf = pd.concat([long_key, singles], ignore_index=True)
    n = len(pdf)
    assert not _dense_layout_ok(n, 401, 2000)
    assert _dense_layout_ok(66 * 150, 150, 66)  # fixture shape stays dense

    alpha = 2 / 6
    got = pd.concat(list(_ewm_partition_fn(alpha)(iter([pdf]))),
                    ignore_index=True)
    want = np.concatenate([
        ewm_mean(long_key["close"].to_numpy(), alpha),
        singles["close"].to_numpy(dtype=np.float64)])
    np.testing.assert_array_equal(got["e"].to_numpy(), want)

    kin = pdf.assign(rn=np.concatenate([np.arange(1, 2001),
                                        np.ones(400, dtype=int)]))
    kgot = pd.concat(list(_kalman_partition_fn()(iter([kin]))),
                     ignore_index=True)
    import math
    lvl, p = None, None
    want_l = []
    for y in long_key["close"]:
        if lvl is None:
            lvl, p = float(y), 1.0
        else:
            pp = p + _KAL_Q
            k = pp / (pp + _KAL_R)
            lvl = lvl + k * (float(y) - lvl)
            p = (1.0 - k) * pp
        want_l.append(lvl)
    want_l.extend(float(y) for y in singles["close"])
    np.testing.assert_array_equal(kgot["kal_level"].to_numpy(),
                                  np.array(want_l))


def test_hw_dense_bit_equals_step():
    """Holt-Winters' dense form must match its per-key step bit for
    bit, whatever the key layout and Arrow-batch split — including a
    batch that starts inside a key's first m rows (its buffered
    values are re-fed in front of the first segment) and keys shorter
    than the season."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from big_data_share_market_spark.operators.ewm import (
        _HW_A, _HW_B, _HW_G, _HW_INIT, _HW_M, _hw_dense, _hw_step,
        _scan_kernel)

    names = ["user_id", "close", "level", "trend", "fc_1", "fc_2", "fc_3"]
    step = _hw_step(_HW_A, _HW_B, _HW_G, _HW_M)

    @settings(max_examples=60, deadline=None)
    @given(st.data())
    def run(data):
        lens = [data.draw(st.integers(1, 12))
                for _ in range(data.draw(st.integers(1, 6)))]
        rng = np.random.default_rng(data.draw(st.integers(0, 2**31)))
        pdf = pd.DataFrame({
            "user_id": np.repeat(np.arange(len(lens)), lens),
            "close": 100 + rng.standard_normal(sum(lens)).cumsum()})
        cuts = sorted(data.draw(
            st.lists(st.integers(0, len(pdf)), max_size=5)))
        bounds = [0, *cuts, len(pdf)]
        batches = [pdf.iloc[a:b].reset_index(drop=True)
                   for a, b in zip(bounds, bounds[1:])]

        def scan(dense):
            kern = _scan_kernel(step, _HW_INIT, ["close"], names, dense)
            return pd.concat(list(kern(iter(batches))), ignore_index=True)

        pd.testing.assert_frame_equal(
            scan(_hw_dense(_HW_A, _HW_B, _HW_G, _HW_M)), scan(None),
            check_exact=True)

    run()


#: Batch queries whose recurrence keyed_scan runs, carrying state across
#: Arrow batches (ema and kalman_level through their dense forms).
_SCAN_QUERIES = ["ema", "holt_forecast", "holt_winters", "forecast_anomalies",
                 "forecast_backtest", "kalman_level", "parabolic_sar",
                 "supertrend", "kama", "trix", "mass_index"]


def _scan_input(columns: list[str]) -> pd.DataFrame:
    """Three keys of 25, 10 and 8 rows, sorted by key then order, with
    a value for every column a staged kernel input can carry and NaN
    in some double inputs (including a key's first row)."""
    rng = np.random.default_rng(20261017)
    lens = [25, 10, 8]
    n = sum(lens)
    close = 100.0 + rng.normal(0.0, 2.0, n).cumsum()
    spread = np.abs(rng.normal(0.0, 1.0, n))
    sc = rng.uniform(0.0, 1.0, n)
    sc[[0, 1, 2, 25]] = np.nan  # undefined sc before the window fills
    cols = {
        "user_id": np.repeat(np.arange(1, 4), lens).astype("int64"),
        "event_id": np.arange(n, dtype="int64"),
        "ts": (pd.Timestamp("2024-01-02")
               + pd.to_timedelta(np.arange(n), unit="h")).to_numpy(),
        "high": close + spread, "low": close - spread, "close": close,
        "rng": 2.0 * spread, "sc": sc,
        "rn": np.concatenate([np.arange(1, k + 1) for k in lens]),
        "n_obs": np.repeat(lens, lens),
    }
    cols["bar_ts"] = cols["ts"]
    cols["n_rows"] = cols["n_obs"]
    for c in ("close", "high", "low", "rng"):
        cols[c][[12, 35]] = np.nan  # key 1 mid-series, key 3's first row
    return pd.DataFrame({c: cols[c] for c in columns})


@pytest.mark.parametrize("name", _SCAN_QUERIES)
def test_keyed_scan_output_independent_of_batch_split(spark, monkeypatch,
                                                      name):
    """The batch twin of the stream split test: the function a
    per-key batch query hands to mapInPandas must give the same rows
    whether a partition arrives as one Arrow batch or as several —
    one key spread over three batches, a key change exactly at a batch
    boundary, an empty batch — and the same rows as running each key
    alone (so state resets on every new key). Fixture scale never
    splits a key across Arrow batches, so only this test covers the
    carry."""
    from big_data_share_market_spark.registry import all_queries

    from .conftest import SF_DIR

    captured = []
    frame_cls = type(spark.range(1))
    map_in_pandas = frame_cls.mapInPandas

    def capture(self, func, schema, *args, **kwargs):
        captured.append((func, self.columns))
        return map_in_pandas(self, func, schema, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "mapInPandas", capture)
    all_queries()[name][0](spark, SF_DIR)
    [(func, columns)] = captured
    pdf = _scan_input(columns)

    def run(batches):
        return pd.concat(list(func(iter(batches))), ignore_index=True)

    whole = run([pdf])
    cuts = [0, 8, 17, 17, 25, 40, len(pdf)]  # 25 = key 1 -> key 2
    split = run([pdf.iloc[a:b].reset_index(drop=True)
                 for a, b in zip(cuts, cuts[1:])])
    per_key = pd.concat([run([g.reset_index(drop=True)])
                         for _, g in pdf.groupby("user_id", sort=True)],
                        ignore_index=True)
    assert len(whole) == len(pdf)
    pd.testing.assert_frame_equal(split, whole, check_exact=True)
    pd.testing.assert_frame_equal(per_key, whole, check_exact=True)


def test_chained_ema_steps_skip_nan_like_the_oracle():
    """TRIX and mass index chain the shared EMA step, so a NaN input
    carries every level the way the oracle's NULL-skipping list fold
    does (the fixtures hold no NULL close, so parity cannot show it):
    each level equals ewm_mean of the level below."""
    import math

    from big_data_share_market_spark.operators.channels import (
        _mass_step, _trix_step)
    from big_data_share_market_spark.operators.ewm import _ewm_init

    rng = np.random.default_rng(5)
    x = 100.0 + rng.normal(0.0, 2.0, 300).cumsum()
    x[rng.random(300) < 0.1] = np.nan
    x[0] = np.nan
    a = 2.0 / 16.0
    e3 = ewm_mean(ewm_mean(ewm_mean(x, a), a), a)
    p3 = np.r_[np.nan, e3[:-1]]
    _, out = _trix_step(a)(_ewm_init(3), {"close": x})
    np.testing.assert_array_equal(out["ema3"], e3)
    np.testing.assert_array_equal(out["trix"], [
        100.0 * (v / p - 1.0) if not math.isnan(p) and p != 0.0 else np.nan
        for v, p in zip(e3, p3)])
    e1 = ewm_mean(x, 0.2)
    e2 = ewm_mean(e1, 0.2)
    _, out = _mass_step(0.2)(_ewm_init(2), {"rng": x})
    np.testing.assert_array_equal(out["ratio"],
                                  np.where(e2 != 0.0, e1 / e2, np.nan))
