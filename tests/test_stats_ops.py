"""Reference-implementation tests for the statistical QA operators
(`operators/stats.py`): each Spark result is checked against a
brute-force pure-Python computation on crafted series — independent
of the DuckDB oracle, so a shared misunderstanding of the statistic
in both SQL dialects cannot hide."""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def _mk_events(spark, rows):
    """rows: (user_id, event_id, ts_offset_hours, value)."""
    return spark.createDataFrame(
        [(u, e, f"2024-01-01 {h:02d}:00:00", v) for u, e, h, v in rows],
        "user_id long, event_id long, ts_s string, value double",
    ).select("user_id", "event_id",
             F.col("ts_s").cast("timestamp_ntz").alias("ts"), "value")


def _mk_brute(series):
    """Mann–Kendall on one ordered value list."""
    n = len(series)
    s = sum((v2 > v1) - (v2 < v1)
            for i, v1 in enumerate(series) for v2 in series[i + 1:])
    ties = {}
    for v in series:
        ties[v] = ties.get(v, 0) + 1
    tie_term = sum(t * (t - 1) * (2 * t + 5) for t in ties.values())
    var = (n * (n - 1) * (2 * n + 5) - tie_term) / 18.0
    if s > 0:
        z = (s - 1) / math.sqrt(var)
    elif s < 0:
        z = (s + 1) / math.sqrt(var)
    else:
        z = 0.0
    return s, var, z


def test_mann_kendall_matches_brute_force(spark, monkeypatch, tmp_path):
    from big_data_share_market_spark.operators import stats

    series = {1: [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0],   # ties
              2: [1.0, 2.0, 3.0, 4.0, 5.0],                   # monotone up
              3: [5.0, 4.0, 3.0, 2.0, 1.0]}                   # monotone down
    rows = [(u, 10 * u + i, i, v)
            for u, vs in series.items() for i, v in enumerate(vs)]
    df = _mk_events(spark, rows)
    monkeypatch.setattr(stats, "load_table", lambda *_: df)
    got = {r.user_id: r for r in
           stats.q_mann_kendall_trend(spark, "unused").collect()}
    for u, vs in series.items():
        s, var, z = _mk_brute(vs)
        assert got[u].s_stat == s, u
        assert got[u].var_s == var, u
        assert abs(got[u].z - z) < 1e-12, u
    # Monotone series hit the no-tie extreme: S = ±n(n−1)/2.
    assert got[2].s_stat == 10 and got[3].s_stat == -10


def _ks_brute(xs, ys):
    pts = sorted(set(xs) | set(ys))
    na, nb = len(xs), len(ys)
    return max(abs(sum(x <= p for x in xs) * nb
                   - sum(y <= p for y in ys) * na) for p in pts)


def test_ks_two_sample_matches_brute_force(spark, monkeypatch):
    from big_data_share_market_spark.operators import stats

    xs = [1.0, 2.5, 2.5, 7.0, 40.0, 41.5, 300.0]       # spans buckets
    ys = [0.5, 2.5, 3.0, 18.0, 40.0, 200.0, 310.0, 5.0]
    rows = ([(1, i, 0, v) for i, v in enumerate(xs)]
            + [(2, 100 + i, 0, v) for i, v in enumerate(ys)])
    df = _mk_events(spark, rows).withColumn(
        "event_type",
        F.when(F.col("user_id") == 1, "click").otherwise("purchase"))
    monkeypatch.setattr(stats, "load_table", lambda *_: df)
    (row,) = stats.q_ks_two_sample(spark, "unused").collect()
    d_num = _ks_brute(xs, ys)
    assert (row.n_a, row.n_b) == (len(xs), len(ys))
    assert row.d_num == d_num
    assert row.d_stat == d_num / (len(xs) * len(ys))


def test_cusum_finds_planted_level_shift(spark, monkeypatch):
    from big_data_share_market_spark.operators import stats

    # 10 points at 0, then 10 at 10: CUSUM is extremal exactly at the
    # boundary (rank 10), |S| = 10*(0-5) = 50.
    vals = [0.0] * 10 + [10.0] * 10
    rows = [(1, i, i, v) for i, v in enumerate(vals)]
    df = _mk_events(spark, rows)
    monkeypatch.setattr(stats, "load_table", lambda *_: df)
    (row,) = stats.q_cusum_changepoint(spark, "unused").collect()
    assert row.n == 20
    assert row.argmax_rank == 10
    assert row.argmax_event_id == 9
    assert row.max_abs_cusum == 50.0


def _mwu_brute(xs, ys):
    """2*U_A and tie-corrected Var(U) by definition."""
    u2 = 0
    for x in xs:
        for y in ys:
            u2 += 2 if x > y else (1 if x == y else 0)
    n_a, n_b = len(xs), len(ys)
    n = n_a + n_b
    from collections import Counter
    tie_sum = sum(c ** 3 - c for c in Counter(xs + ys).values())
    var = n_a * n_b / 12 * ((n + 1) - tie_sum / (n * (n - 1)))
    return u2, var


def test_mannwhitney_matches_brute_force(spark, monkeypatch):
    from big_data_share_market_spark.operators import stats

    xs = [1.0, 2.5, 2.5, 7.0, 40.0, 41.5, 300.0, 2.5]
    ys = [0.5, 2.5, 3.0, 18.0, 40.0, 200.0, 310.0, 5.0, 41.5]
    rows = ([(1, i, 0, v) for i, v in enumerate(xs)]
            + [(2, 100 + i, 0, v) for i, v in enumerate(ys)])
    df = _mk_events(spark, rows).withColumn(
        "event_type",
        F.when(F.col("user_id") == 1, "click").otherwise("purchase"))
    monkeypatch.setattr(stats, "load_table", lambda *_: df)
    (row,) = stats.q_mannwhitney_u(spark, "unused").collect()
    u2, var = _mwu_brute(xs, ys)
    assert (row.n_a, row.n_b) == (len(xs), len(ys))
    assert row.u2_a == u2
    assert abs(row.var_u - var) < 1e-9


def _wilcoxon_brute(ds):
    """(n_nonzero, W+, tie-corrected Var, z) by definition."""
    from collections import Counter
    ds = [d for d in ds if d != 0]
    n = len(ds)
    counts = Counter(abs(d) for d in ds)
    ranks, start = {}, 0
    for v, c in sorted(counts.items()):
        ranks[v] = start + (c + 1) / 2  # average rank
        start += c
    w_plus = sum(ranks[abs(d)] for d in ds if d > 0)
    tie_sum = sum(c ** 3 - c for c in counts.values())
    var = (2 * n * (n + 1) * (2 * n + 1) - tie_sum) / 48
    z = (w_plus - n * (n + 1) / 4) / math.sqrt(var)
    return n, w_plus, var, z


def test_wilcoxon_matches_brute_force(spark, monkeypatch):
    from big_data_share_market_spark.operators import stats

    # Pairs with a zero diff (dropped), heavy |d| ties, both signs.
    xs = [5.0, 3.0, 8.0, 2.0, 7.0, 6.0, 4.0, 9.0, 1.0, 3.0]
    ys = [3.0, 3.0, 6.0, 4.0, 5.0, 8.0, 2.0, 4.0, 2.0, 2.0]
    rows = ([(1, i, i, v) for i, v in enumerate(xs)]
            + [(1, 100 + i, i, v) for i, v in enumerate(ys)])
    df = _mk_events(spark, rows).withColumn(
        "event_type",
        F.when(F.col("event_id") < 100, "click").otherwise("purchase"))
    monkeypatch.setattr(stats, "load_table", lambda *_: df)
    (row,) = stats.q_wilcoxon_signed_rank(spark, "wilcoxon-pairs").collect()
    n, w_plus, var, z = _wilcoxon_brute(
        [x - y for x, y in zip(xs, ys)])
    assert row.n_nonzero == n
    assert row.w_plus == w_plus
    assert row.w2_plus == int(2 * w_plus)
    assert abs(row.var_w - var) < 1e-9
    assert abs(row.z - z) < 1e-12


def test_stride_capped_equals_exact_when_cap_covers(spark, monkeypatch):
    """stride == 1 (series shorter than the cap allows) must reproduce
    the EXACT estimators bit-for-bit — the equivalence that certifies
    the capped forms as degenerating to the full lattice."""
    from big_data_share_market_spark.operators import regression, stats

    series = {1: [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0],
              2: [float((7 * i) % 13) for i in range(20)]}
    rows = [(u, 100 * u + i, i, v)
            for u, vs in series.items() for i, v in enumerate(vs)]
    # Key 3 has DUPLICATE timestamps (two events per hour): tied-t
    # pairs must be excluded from the Theil–Sen slopes (Δt = 0 would
    # divide by zero and its NULL sorts differently across engines)
    # while the MK pair rule keeps every rn-lattice pair.
    tied_vals = [3.0, 7.0, 1.0, 4.0, 9.0, 2.0, 8.0, 5.0]
    rows += [(3, 300 + i, i // 2, v) for i, v in enumerate(tied_vals)]
    series[3] = tied_vals
    df = _mk_events(spark, rows)
    monkeypatch.setattr(stats, "load_table", lambda *_: df)
    monkeypatch.setattr(regression, "load_table", lambda *_: df)

    capped = {r.user_id: r for r in
              stats.q_theil_sen_capped(spark, "unused").collect()}
    exact = {r.user_id: r for r in
             regression.q_theil_sen_trend(spark, "unused").collect()}
    for u in series:
        assert capped[u].stride == 1
        assert capped[u].n_pairs == exact[u].n_pairs
        assert capped[u].slope_per_hour == exact[u].slope_per_hour, u

    mk_capped = {r.user_id: r for r in
                 stats.q_mann_kendall_capped(spark, "unused").collect()}
    mk_exact = {r.user_id: r for r in
                stats.q_mann_kendall_trend(spark, "unused").collect()}
    for u in series:
        assert mk_capped[u].stride == 1
        assert mk_capped[u].n_pairs_sampled == mk_capped[u].n_pairs_total
        assert mk_capped[u].s_capped == mk_exact[u].s_stat, u


def test_stride_cap_bounds_pair_generation_on_long_series(spark):
    """The scale guarantee: a deliberately UNBOUNDED series (3000
    events on one hot key — n(n-1)/2 = 4.5M full-lattice pairs) must
    generate O(cap + n) pairs, never the quadratic lattice."""
    from big_data_share_market_spark.operators.stats import (
        _PAIR_CAP, stride_sampled_pairs)

    for n in (200, 3000):
        df = spark.createDataFrame(
            [(1, i, i * 1_000_000, float((17 * i) % 101))
             for i in range(n)],
            "user_id long, event_id long, t long, v double")
        cnt = stride_sampled_pairs(df).count()
        assert 0 < cnt <= _PAIR_CAP + n, (n, cnt)
        assert cnt < n * (n - 1) // 2, (n, cnt)


def _avg_ranks(vals):
    from collections import Counter
    counts = Counter(vals)
    ranks, start = {}, 0
    for v, c in sorted(counts.items()):
        ranks[v] = start + (c + 1) / 2
        start += c
    return [ranks[v] for v in vals]


def test_spearman_matches_brute_force(spark, monkeypatch):
    import numpy as np

    from big_data_share_market_spark.operators import stats

    # Same-user pairing, heavy ties on both sides.
    xs = [5.0, 3.0, 8.0, 2.0, 7.0, 6.0, 4.0, 9.0, 1.0, 3.0, 5.0]
    ys = [3.0, 3.0, 6.0, 4.0, 5.0, 8.0, 2.0, 4.0, 2.0, 2.0, 3.0]
    rows = ([(1, i, i, v) for i, v in enumerate(xs)]
            + [(1, 100 + i, i, v) for i, v in enumerate(ys)])
    df = _mk_events(spark, rows).withColumn(
        "event_type",
        F.when(F.col("event_id") < 100, "click").otherwise("purchase"))
    monkeypatch.setattr(stats, "load_table", lambda *_: df)
    (row,) = stats.q_spearman_corr(spark, "spearman-pairs").collect()
    ra, rb = np.array(_avg_ranks(xs)), np.array(_avg_ranks(ys))
    want = float(np.corrcoef(ra, rb)[0, 1])
    assert row.n_pairs == len(xs)
    assert abs(row.rho - want) < 1e-12


def test_kendall_tau_matches_brute_force(spark, monkeypatch):
    from big_data_share_market_spark.operators import stats

    xs = [5.0, 3.0, 8.0, 2.0, 7.0, 6.0, 4.0, 9.0, 1.0, 3.0]
    ys = [3.0, 3.0, 6.0, 4.0, 5.0, 8.0, 2.0, 4.0, 2.0, 2.0]
    rows = ([(1, i, i, v) for i, v in enumerate(xs)]
            + [(1, 100 + i, i, v) for i, v in enumerate(ys)]
            # user 2: all va tied -> tau_b must be NULL, not a crash
            + [(2, 200 + i, i, v) for i, v in enumerate([4.0, 4.0, 4.0])]
            + [(2, 300 + i, i, v) for i, v in enumerate([1.0, 2.0, 3.0])])
    df = _mk_events(spark, rows).withColumn(
        "event_type",
        F.when(F.col("event_id") % 200 < 100, "click")
        .otherwise("purchase"))
    monkeypatch.setattr(stats, "load_table", lambda *_: df)
    got = {r.user_id: r for r in
           stats.q_kendall_tau_pairs(spark, "kendall-pairs").collect()}

    # Direct double loop (sign product over i < j).
    cd = 0
    for i in range(len(xs)):
        for j in range(i + 1, len(xs)):
            sa = (xs[i] > xs[j]) - (xs[i] < xs[j])
            sb = (ys[i] > ys[j]) - (ys[i] < ys[j])
            cd += sa * sb
    from collections import Counter
    n = len(xs)
    n0 = n * (n - 1) // 2
    n1 = sum(c * (c - 1) // 2 for c in Counter(xs).values())
    n2 = sum(c * (c - 1) // 2 for c in Counter(ys).values())
    want = cd / math.sqrt((n0 - n1) * (n0 - n2))
    r1 = got[1]
    assert (r1.n, r1.n0, r1.n1, r1.n2, r1.cd) == (n, n0, n1, n2, cd)
    assert abs(r1.tau_b - want) < 1e-12
    assert got[2].tau_b is None  # fully-tied va side -> NULL guard


def test_binary_seg_finds_both_planted_shifts(spark, monkeypatch):
    """Two level shifts (0->10 at rank 10, 10->20 at rank 20): the
    root CUSUM argmax lands on the FIRST boundary (|S| = 100, flat to
    rank 20, earliest tiebreak), and the right child's re-run finds
    the second (|S| = 50 at in-segment rank 10). The constant left
    child emits score 0 at its earliest rank."""
    from big_data_share_market_spark.operators import stats

    vals = [0.0] * 10 + [10.0] * 10 + [20.0] * 10
    rows = [(1, i, i % 24, v) for i, v in enumerate(vals)]
    df = _mk_events(spark, rows).withColumn(
        "ts", F.expr("ts + make_interval(0, 0, 0, CAST(event_id AS INT)"
                     " DIV 24, 0, 0, 0)"))
    monkeypatch.setattr(stats, "load_table", lambda *_: df)
    got = {r.level_seg: r for r in
           stats.q_cusum_binary_seg(spark, "unused").collect()}
    assert got[0].cp_rank == 10 and got[0].score == 100.0
    assert got[0].seg_n == 30
    assert got[1].score == 0.0 and got[1].cp_rank == 1  # constant left
    assert got[2].cp_rank == 10 and got[2].score == 50.0
    assert got[2].cp_event_id == 19 and got[2].seg_n == 20


def test_seasonal_strength_eta_squared(spark, monkeypatch):
    """Planted cases for the ANOVA eta² seasonality score: a
    perfectly weekly-periodic key scores exactly 1.0, a constant key
    has SST == 0 and yields NULL, and a noisy key matches the numpy
    eta² computed from its daily totals."""
    import numpy as np

    from big_data_share_market_spark.operators import stats

    # 2024-01-01 is a Monday; one event per day, 21 days each.
    periodic = [float(10 + (i % 7)) for i in range(21)]      # f(dow)
    constant = [5.0] * 21
    noisy = [float((3 * i * i + 7 * i) % 13 + 1) for i in range(21)]
    rows = []
    for u, series in ((1, periodic), (2, constant), (3, noisy)):
        rows += [(u, 1000 * u + i, 0, v) for i, v in enumerate(series)]
    df = _mk_events(spark, rows).withColumn(
        "ts", F.expr("ts + make_interval(0, 0, 0, "
                     "CAST(event_id % 1000 AS INT), 0, 0, 0)"))
    monkeypatch.setattr(stats, "load_table", lambda *_: df)
    got = {r.user_id: r for r in
           stats.q_seasonal_strength_dow(spark, "unused").collect()}
    assert got[1].strength == 1.0 and got[1].ssw == 0.0
    assert got[2].strength is None                  # SST == 0
    x = np.array(noisy)
    dows = np.arange(21) % 7
    sst = float(((x - x.mean()) ** 2).sum())
    ssw = float(sum(((x[dows == d] - x[dows == d].mean()) ** 2).sum()
                    for d in range(7)))
    assert abs(got[3].strength - (1 - ssw / sst)) < 1e-9
    assert 0.0 <= got[3].strength <= 1.0
    assert got[3].n_days == 21 and got[3].n_dows == 7
