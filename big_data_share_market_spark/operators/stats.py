"""Distribution-drift and trend-significance testing: the statistical
QA layer a training-data pipeline runs next to its counters.

Beyond the reference (its dashboard eyeballs trends; nothing tests
them) — three classical nonparametric tests, each re-expressed as
exact distributed algebra with a full DuckDB oracle:

- `mann_kendall_trend`: IS there a monotone trend? The significance
  test next to `theil_sen_trend`'s slope estimate (the two are the
  standard pairing): S = Σ sign(v_j − v_i) over ordered pairs is an
  exact INTEGER, the tie-corrected variance is integer arithmetic
  over tie-group sizes, and the z-score is one sqrt+division with
  identical expression text in both engines.
- `ks_two_sample`: have two cohorts drifted apart? The
  Kolmogorov–Smirnov D statistic between two event types' value
  distributions, computed with an EXACT INTEGER numerator
  (max |cum_a·n_b − cum_b·n_a|, divided once at the end) so the max
  is over integers, never floats. The ECDF prefix sums are
  distributed two-level (fixed-width value buckets: per-bucket
  partials + a buckets-sized offset window + in-bucket windows) —
  the token_budget_mixture prefix-sum shape, so no global
  single-partition window at any scale; the oracle is the flat
  global-window formulation.
- `cusum_changepoint`: WHEN did the level shift? Per-key CUSUM
  S_i = Σ_{j≤i}(v_j − mean) via one decimal-exact cumulative window,
  reporting the max |S_i| and its position (the classic changepoint
  locator), deterministic argmax tiebreak to the earliest position.

Scale notes: mann_kendall shares theil_sen's bounded pair fanout
(series length per key is bounded by fixture design); for UNBOUNDED
series both carry stride-capped twins (`mann_kendall_capped`,
`theil_sen_capped`) built on `stride_sampled_pairs` — deterministic
systematic anchor subsampling that bounds pair GENERATION (not just
output) to `_PAIR_CAP` per key. ks_two_sample shuffles counts per
distinct value (≤ one row per distinct value per bucket); cusum is
one hash exchange on the key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import DEC
from ..staging import staged
from ..tables import load_table


def q_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall trend test per user (S, tie-corrected Var, z).

    S sums sign(v_j − v_i) over all (ts, event_id)-ordered pairs —
    exact integer. Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18.0
    with t the tie-group sizes of v per key. z applies the standard
    continuity correction ((S∓1)/sqrt(Var)); IEEE sqrt and one
    division, correctly rounded in both engines."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("t"),
        F.col("value").alias("v"))
    a, b = e.alias("a"), e.alias("b")
    ordered = ((F.col("a.t") < F.col("b.t"))
               | ((F.col("a.t") == F.col("b.t"))
                  & (F.col("a.event_id") < F.col("b.event_id"))))
    s = (a.join(b, (F.col("a.user_id") == F.col("b.user_id")) & ordered)
         .groupBy(F.col("a.user_id").alias("user_id"))
         .agg(F.sum(F.signum(F.col("b.v") - F.col("a.v")).cast("long"))
              .alias("s_stat")))
    n = e.groupBy("user_id").agg(F.count("*").alias("n"))
    ties = (e.groupBy("user_id", "v").agg(F.count("*").alias("tg"))
            .groupBy("user_id")
            .agg(F.sum(F.expr("tg * (tg - 1) * (2 * tg + 5)"))
                 .alias("tie_term")))
    out = (n.join(s, "user_id").join(ties, "user_id")
           # CAST ... AS DOUBLE on the integer numerator: Spark parses
           # the literal 18.0 as DECIMAL(3,1) (see verify-skill note),
           # which would make var_s a decimal and drift the division.
           .withColumn("var_s", F.expr(
               "CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE)"
               " / CAST(18.0 AS DOUBLE)"))
           .withColumn("z", F.expr(
               "CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s) "
               "WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s) "
               "ELSE 0.0 END")))
    return out.select("user_id", "n", "s_stat", "var_s", "z").orderBy(
        "user_id")


_MK_SQL = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS t, value AS v FROM events),
s AS (
  SELECT a.user_id,
         CAST(SUM(CAST(sign(b.v - a.v) AS BIGINT)) AS BIGINT) AS s_stat
  FROM e a JOIN e b
    ON a.user_id = b.user_id
   AND (a.t < b.t OR (a.t = b.t AND a.event_id < b.event_id))
  GROUP BY a.user_id),
n AS (SELECT user_id, COUNT(*) AS n FROM e GROUP BY user_id),
ties AS (
  SELECT user_id,
         CAST(SUM(tg * (tg - 1) * (2 * tg + 5)) AS BIGINT) AS tie_term
  FROM (SELECT user_id, v, COUNT(*) AS tg FROM e GROUP BY user_id, v)
  GROUP BY user_id)
SELECT n.user_id, n.n, s.s_stat,
       CAST(n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_term AS DOUBLE)
         / CAST(18.0 AS DOUBLE) AS var_s,
       CASE WHEN s.s_stat > 0 THEN (s.s_stat - 1) / sqrt(
              CAST(n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_term
                   AS DOUBLE) / CAST(18.0 AS DOUBLE))
            WHEN s.s_stat < 0 THEN (s.s_stat + 1) / sqrt(
              CAST(n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_term
                   AS DOUBLE) / CAST(18.0 AS DOUBLE))
            ELSE 0.0 END AS z
FROM n JOIN s ON n.user_id = s.user_id
JOIN ties ON n.user_id = ties.user_id
ORDER BY n.user_id
"""


_KS_A, _KS_B = "click", "purchase"
#: Fixed-width value buckets for the distributed ECDF prefix sum —
#: width 16 over the fixture's [0, ~500] value range gives ~31
#: buckets; the two-level shape is invariant to the choice.
_KS_W = 16.0


def _two_sample_cum(spark: SparkSession, sf_dir: str):
    """Shared distributed two-sample ECDF machinery: per distinct
    value counts (ca, cb) with INCLUSIVE cumulative counts computed
    two-level (fixed-width value buckets: in-bucket window + a
    buckets-sized offset window broadcast back) — the
    token_budget_mixture prefix-sum shape, so no global
    single-partition window at any scale. Returns (per-value frame
    with ca/cb/cum_a/cum_b, one-row totals frame)."""
    e = (load_table(spark, sf_dir, "events")
         .where(F.col("event_type").isin(_KS_A, _KS_B))
         .select("value", (F.col("event_type") == _KS_A).alias("is_a")))
    per_val = (e.groupBy("value")
               .agg(F.sum(F.when(F.col("is_a"), 1).otherwise(0))
                    .alias("ca"),
                    F.sum(F.when(~F.col("is_a"), 1).otherwise(0))
                    .alias("cb"))
               .withColumn("bucket", F.floor(F.col("value") / _KS_W)))
    win = (Window.partitionBy("bucket").orderBy("value")
           .rowsBetween(Window.unboundedPreceding, 0))
    in_bucket = (per_val
                 .withColumn("ia", F.sum("ca").over(win))
                 .withColumn("ib", F.sum("cb").over(win)))
    per_bucket = (per_val.groupBy("bucket")
                  .agg(F.sum("ca").alias("ba"), F.sum("cb").alias("bb")))
    bwin = (Window.orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, -1))
    offsets = (per_bucket
               .withColumn("oa", F.coalesce(F.sum("ba").over(bwin),
                                            F.lit(0)))
               .withColumn("ob", F.coalesce(F.sum("bb").over(bwin),
                                            F.lit(0)))
               .select("bucket", "oa", "ob"))
    cum = (in_bucket.join(F.broadcast(offsets), "bucket")
           .select("value", "ca", "cb",
                   (F.col("oa") + F.col("ia")).alias("cum_a"),
                   (F.col("ob") + F.col("ib")).alias("cum_b")))
    tot = e.agg(F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("n_a"),
                F.sum(F.when(~F.col("is_a"), 1).otherwise(0)).alias("n_b"))
    return cum, tot


def q_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov D between the `_KS_A` ('click')
    and `_KS_B` ('purchase') event values, exact-integer numerator.
    Distributed ECDF via `_two_sample_cum` → max over INTEGER
    |cum_a·n_b − cum_b·n_a|; the single division happens on the
    one-row result."""
    cum, tot = _two_sample_cum(spark, sf_dir)
    return (cum.crossJoin(F.broadcast(tot))
            .agg(F.max("n_a").alias("n_a"), F.max("n_b").alias("n_b"),
                 F.max(F.abs(F.col("cum_a") * F.col("n_b")
                             - F.col("cum_b") * F.col("n_a")))
                 .alias("d_num"))
            .withColumn("d_stat", F.expr(
                "CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE)"
                " * CAST(n_b AS DOUBLE))")))


_KS_SQL = f"""
WITH e AS (
  SELECT value, event_type = '{_KS_A}' AS is_a FROM events
  WHERE event_type IN ('{_KS_A}', '{_KS_B}')),
per_val AS (
  SELECT value,
         SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS cb
  FROM e GROUP BY value),
cum AS (
  SELECT SUM(ca) OVER (ORDER BY value
                       ROWS UNBOUNDED PRECEDING) AS cum_a,
         SUM(cb) OVER (ORDER BY value
                       ROWS UNBOUNDED PRECEDING) AS cum_b
  FROM per_val),
tot AS (
  SELECT SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS n_a,
         SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS n_b
  FROM e)
SELECT CAST(t.n_a AS BIGINT) AS n_a, CAST(t.n_b AS BIGINT) AS n_b,
       CAST(MAX(ABS(c.cum_a * t.n_b - c.cum_b * t.n_a)) AS BIGINT)
         AS d_num,
       CAST(MAX(ABS(c.cum_a * t.n_b - c.cum_b * t.n_a)) AS DOUBLE)
         / (CAST(t.n_a AS DOUBLE) * CAST(t.n_b AS DOUBLE)) AS d_stat
FROM cum c, tot t
GROUP BY t.n_a, t.n_b
"""


_VAR_U = ("CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)"
          " / CAST(12 AS DOUBLE)"
          " * (CAST(n_a + n_b + 1 AS DOUBLE)"
          "    - CAST(tie_sum AS DOUBLE)"
          "      / (CAST(n_a + n_b AS DOUBLE)"
          "         * CAST(n_a + n_b - 1 AS DOUBLE)))")
_Z_U = ("CAST(u2_a - n_a * n_b AS DOUBLE)"
        " / (CAST(2 AS DOUBLE) * sqrt(var_u))")


def q_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) between the same two
    cohorts as `ks_two_sample` — the LOCATION test next to KS's shape
    test (the standard two-sample pairing). Rank sums stay EXACT
    integers by working in doubled units: a tie group of size c
    starting after `start` rows has doubled-average-rank
    2·start + c + 1, so 2·R_A and 2·U_A are integers even with ties.
    The tie-corrected normal approximation
    z = (2U − n_a·n_b·? … written as (2U_A − n_a n_b)/(2√Var) — one
    sqrt + one division over identical operands in both engines.
    Shares `_two_sample_cum`'s two-level distributed prefix sums."""
    cum, tot = _two_sample_cum(spark, sf_dir)
    per = cum.select(
        "ca", "cb",
        (F.col("ca") + F.col("cb")).alias("c"),
        (F.col("cum_a") + F.col("cum_b")
         - F.col("ca") - F.col("cb")).alias("start"))
    agg = per.agg(
        F.sum(F.col("ca") * (2 * F.col("start") + F.col("c") + 1))
        .alias("ra2"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .alias("tie_sum"))
    out = (agg.crossJoin(F.broadcast(tot))
           .withColumn("u2_a", F.expr("ra2 - n_a * (n_a + 1)"))
           .withColumn("var_u", F.expr(_VAR_U))
           .withColumn("z", F.expr(_Z_U)))
    return out.select("n_a", "n_b", "u2_a",
                      (F.col("u2_a").cast("double")
                       / F.lit(2.0)).alias("u_a"),
                      "var_u", "z")


_MWU_SQL = f"""
WITH e AS (
  SELECT value, event_type = '{_KS_A}' AS is_a FROM events
  WHERE event_type IN ('{_KS_A}', '{_KS_B}')),
per_val AS (
  SELECT value,
         SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS cb
  FROM e GROUP BY value),
cum AS (
  SELECT ca, cb, ca + cb AS c,
         SUM(ca + cb) OVER (ORDER BY value
                            ROWS UNBOUNDED PRECEDING)
           - (ca + cb) AS start
  FROM per_val),
agg AS (
  SELECT CAST(SUM(ca * (2 * start + c + 1)) AS BIGINT) AS ra2,
         CAST(SUM(c * c * c - c) AS BIGINT) AS tie_sum
  FROM cum),
tot AS (
  SELECT CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
  FROM e),
j AS (
  SELECT t.n_a, t.n_b,
         CAST(a.ra2 - t.n_a * (t.n_a + 1) AS BIGINT) AS u2_a,
         a.tie_sum
  FROM agg a, tot t),
k AS (
  SELECT n_a, n_b, u2_a,
         {_VAR_U} AS var_u
  FROM j)
SELECT n_a, n_b, u2_a,
       CAST(u2_a AS DOUBLE) / 2.0 AS u_a,
       var_u,
       {_Z_U} AS z
FROM k
"""



def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key CUSUM changepoint locator: S_i = Σ_{j≤i}(v_j − mean)
    over the (ts, event_id)-ordered series; report n, max |S_i| and
    the position (event_id, rank) where it occurs — the classic
    level-shift detector. The cumulative value sum is decimal-exact;
    S_i = cum_i − i·mean is the SAME double expression text in both
    engines; argmax ties break to the earliest position."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", F.col("value").alias("v"))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    wk = Window.partitionBy("user_id")
    cur = (e.withColumn("cum", F.sum(F.col("v").cast(DEC)).over(w)
                        .cast("double"))
           .withColumn("i", F.row_number().over(
               Window.partitionBy("user_id").orderBy("ts", "event_id")))
           .withColumn("n", F.count("*").over(wk))
           .withColumn("mean", F.expr(
               "CAST(SUM(CAST(v AS DECIMAL(25,6))) OVER "
               "(PARTITION BY user_id) AS DOUBLE) / n"))
           .withColumn("s_i", F.expr("cum - i * mean")))
    ranked = cur.withColumn("rnk", F.row_number().over(
        Window.partitionBy("user_id").orderBy(F.abs("s_i").desc(), "i")))
    return (ranked.where(F.col("rnk") == 1)
            .select("user_id", "n",
                    F.abs("s_i").alias("max_abs_cusum"),
                    F.col("i").alias("argmax_rank"),
                    F.col("event_id").alias("argmax_event_id"))
            .orderBy("user_id"))


_CUSUM_SQL = """
WITH e AS (
  SELECT user_id, event_id, ts, value AS v FROM events),
cur AS (
  SELECT user_id, event_id,
         CAST(SUM(CAST(v AS DECIMAL(25,6))) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS i,
         COUNT(*) OVER (PARTITION BY user_id) AS n,
         CAST(SUM(CAST(v AS DECIMAL(25,6))) OVER (
           PARTITION BY user_id) AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY user_id) AS mean
  FROM e),
s AS (
  SELECT user_id, event_id, n, i, cum - i * mean AS s_i FROM cur),
r AS (
  SELECT user_id, CAST(n AS BIGINT) AS n, ABS(s_i) AS max_abs_cusum,
         CAST(i AS INTEGER) AS argmax_rank, event_id AS argmax_event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ABS(s_i) DESC, i) AS rnk
  FROM s)
SELECT user_id, n, max_abs_cusum, argmax_rank, argmax_event_id
FROM r WHERE rnk = 1
ORDER BY user_id
"""


def q_seasonal_strength_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOW seasonal is each key? One-way-ANOVA eta² of day-of-week
    over the daily value totals — the scalar score next to
    `seasonal_decompose_dow`'s component table: strength =
    1 − SSW/SST, where SSW = Σ_dow (Σx² − S²/n) is the
    within-day-of-week variance the seasonal means CANNOT explain and
    SST the total. 1.0 = perfectly weekly-periodic, 0 = day-of-week
    explains nothing.

    Exactness discipline: daily totals are exact decimals, their
    squares exact DECIMAL(37,12), every per-(key, dow) moment an
    exact decimal sum converted to DOUBLE through VARCHAR (the
    HUGEINT-cast gotcha); the ≤7 per-dow SSW terms fold in dow ORDER
    (array_sort + aggregate vs list(ORDER BY) + list_reduce) so the
    float sum is order-identical across engines — a plain SUM over
    doubles would be partial-aggregation-order-dependent. NULL when
    SST == 0 (a constant key), guarded identically in both engines.

    Scale shape: two aggregations (key, day) → (key, dow) → (key);
    the fold runs over ≤7 elements per key."""
    e = load_table(spark, sf_dir, "events")
    daily = (e.groupBy("user_id", F.to_date("ts").alias("day"))
             .agg(F.sum(F.col("value").cast(DEC))
                  .cast("decimal(18,6)").alias("x")))
    per_dow = (daily.withColumn("dow", F.expr("weekday(day)"))
               .groupBy("user_id", "dow")
               .agg(F.count("*").alias("n_d"),
                    F.sum("x").alias("s_d"),
                    F.sum(F.col("x") * F.col("x")).alias("q_d"))
               .withColumn("sd", F.expr(
                   "CAST(CAST(s_d AS STRING) AS DOUBLE)"))
               .withColumn("qd", F.expr(
                   "CAST(CAST(q_d AS STRING) AS DOUBLE)")))
    per_user = per_dow.groupBy("user_id").agg(
        F.sum("n_d").alias("n_days"),
        F.count("*").alias("n_dows"),
        F.expr(
            "aggregate(array_sort(collect_list(named_struct("
            "'dow', dow, 'term', qd - sd * sd / n_d))), "
            "CAST(0.0 AS DOUBLE), (acc, s) -> acc + s.term)")
        .alias("ssw"),
        F.expr("CAST(CAST(SUM(s_d) AS STRING) AS DOUBLE)").alias("s_tot"),
        F.expr("CAST(CAST(SUM(q_d) AS STRING) AS DOUBLE)").alias("q_tot"))
    out = (per_user
           .withColumn("sst", F.expr(
               "q_tot - s_tot * s_tot / n_days"))
           .withColumn("strength", F.expr(
               "CASE WHEN sst > 0 THEN 1.0 - ssw / sst"
               " ELSE CAST(NULL AS DOUBLE) END")))
    return out.select("user_id", "n_days", "n_dows", "ssw", "sst",
                      "strength").orderBy("user_id")


_SEASONAL_STRENGTH_SQL = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DECIMAL(18,6)) AS x
  FROM events GROUP BY user_id, CAST(ts AS DATE)),
per_dow AS (
  SELECT user_id, isodow(day) - 1 AS dow,
         COUNT(*) AS n_d, SUM(x) AS s_d, SUM(x * x) AS q_d
  FROM daily GROUP BY user_id, isodow(day) - 1),
conv AS (
  SELECT user_id, dow, n_d, s_d, q_d,
         CAST(CAST(s_d AS VARCHAR) AS DOUBLE) AS sd,
         CAST(CAST(q_d AS VARCHAR) AS DOUBLE) AS qd
  FROM per_dow),
per_user AS (
  SELECT user_id,
         CAST(SUM(n_d) AS BIGINT) AS n_days,
         COUNT(*) AS n_dows,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
                        list(qd - sd * sd / n_d ORDER BY dow)),
           (acc, t) -> acc + t) AS ssw,
         CAST(CAST(SUM(s_d) AS VARCHAR) AS DOUBLE) AS s_tot,
         CAST(CAST(SUM(q_d) AS VARCHAR) AS DOUBLE) AS q_tot
  FROM conv GROUP BY user_id)
SELECT user_id, n_days, n_dows, ssw,
       q_tot - s_tot * s_tot / n_days AS sst,
       CASE WHEN q_tot - s_tot * s_tot / n_days > 0
            THEN 1.0 - ssw / (q_tot - s_tot * s_tot / n_days)
            ELSE CAST(NULL AS DOUBLE) END AS strength
FROM per_user
ORDER BY user_id
"""


def q_cusum_binary_seg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple changepoints per key by ONE level of binary
    segmentation over the CUSUM locator — the standard way a single
    changepoint detector becomes a multiple-changepoint detector
    (split at the argmax, re-run on each side): the root pass is
    exactly `q_cusum_changepoint`'s argmax, then each key's series is
    split at the root changepoint and the SAME decimal-exact CUSUM
    re-runs independently inside each (key, segment), emitting up to
    three rows per key (level 0 root, level 1 left/right) with each
    changepoint's event_id, in-segment rank, segment length and
    score. Deterministic throughout: the argmax tiebreaks earliest
    both at the root and in the children, and every float is either a
    decimal-cast cum or the shared `cum − i·mean` text. Degenerate
    segments (< 2 rows — no interior point to split at) emit no
    child row, identically in both engines.

    Scale shape: two window passes over (key) / (key, segment) plus a
    keys-sized broadcast of the root split points — no extra scan of
    the fact beyond the second windowing."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", F.col("value").alias("v"))
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wk = Window.partitionBy("user_id")
    cur = (e.withColumn("i", F.row_number().over(w_ord))
           .withColumn("n", F.count("*").over(wk))
           .withColumn("cum", F.sum(F.col("v").cast(DEC)).over(
               w_ord.rowsBetween(Window.unboundedPreceding, 0))
               .cast("double"))
           .withColumn("mean", F.expr(
               "CAST(SUM(CAST(v AS DECIMAL(25,6))) OVER "
               "(PARTITION BY user_id) AS DOUBLE) / n"))
           .withColumn("s_i", F.expr("cum - i * mean")))
    root = (cur.withColumn("rnk", F.row_number().over(
        wk.orderBy(F.abs("s_i").desc(), "i")))
        .where(F.col("rnk") == 1)
        .select("user_id", F.col("i").alias("m1"),
                F.col("event_id").alias("root_event_id"),
                F.abs("s_i").alias("root_score"),
                F.col("n").alias("n_total")))
    seg = (cur.select("user_id", "event_id", "ts", "v", "i")
           .join(F.broadcast(root.select("user_id", "m1")), "user_id")
           .withColumn("seg", F.expr(
               "CASE WHEN i <= m1 THEN 0 ELSE 1 END")))
    w_seg = Window.partitionBy("user_id", "seg").orderBy("ts", "event_id")
    wks = Window.partitionBy("user_id", "seg")
    cur2 = (seg.withColumn("il", F.row_number().over(w_seg))
            .withColumn("ns", F.count("*").over(wks))
            .withColumn("cum", F.sum(F.col("v").cast(DEC)).over(
                w_seg.rowsBetween(Window.unboundedPreceding, 0))
                .cast("double"))
            .withColumn("mean", F.expr(
                "CAST(SUM(CAST(v AS DECIMAL(25,6))) OVER "
                "(PARTITION BY user_id, seg) AS DOUBLE) / ns"))
            .withColumn("s_i", F.expr("cum - il * mean")))
    child = (cur2.where(F.col("ns") >= 2)
             .withColumn("rnk", F.row_number().over(
                 wks.orderBy(F.abs("s_i").desc(), "il")))
             .where(F.col("rnk") == 1)
             .select("user_id",
                     (F.col("seg") + 1).cast("int").alias("level_seg"),
                     F.col("ns").alias("seg_n"),
                     F.col("event_id").alias("cp_event_id"),
                     F.col("il").alias("cp_rank"),
                     F.abs("s_i").alias("score")))
    root_rows = root.select(
        "user_id", F.lit(0).cast("int").alias("level_seg"),
        F.col("n_total").alias("seg_n"),
        F.col("root_event_id").alias("cp_event_id"),
        F.col("m1").alias("cp_rank"),
        F.col("root_score").alias("score"))
    return (root_rows.unionByName(child)
            .orderBy("user_id", "level_seg"))


_CUSUM_SEG_SQL = """
WITH e AS (
  SELECT user_id, event_id, ts, value AS v FROM events),
cur AS (
  SELECT user_id, event_id, ts, v,
         row_number() OVER w AS i,
         COUNT(*) OVER (PARTITION BY user_id) AS n,
         CAST(SUM(CAST(v AS DECIMAL(25,6))) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum,
         CAST(SUM(CAST(v AS DECIMAL(25,6))) OVER (
           PARTITION BY user_id) AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY user_id) AS mean
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (SELECT *, cum - i * mean AS s_i FROM cur),
root AS (
  SELECT user_id, i AS m1, event_id AS root_event_id,
         ABS(s_i) AS root_score, n AS n_total
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                    ORDER BY ABS(s_i) DESC, i) AS rnk FROM s)
  WHERE rnk = 1),
seg AS (
  SELECT s.user_id, s.event_id, s.ts, s.v, s.i,
         CASE WHEN s.i <= root.m1 THEN 0 ELSE 1 END AS seg
  FROM s JOIN root ON s.user_id = root.user_id),
cur2 AS (
  SELECT user_id, event_id, seg,
         row_number() OVER w2 AS il,
         COUNT(*) OVER (PARTITION BY user_id, seg) AS ns,
         CAST(SUM(CAST(v AS DECIMAL(25,6))) OVER (
           PARTITION BY user_id, seg ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum,
         CAST(SUM(CAST(v AS DECIMAL(25,6))) OVER (
           PARTITION BY user_id, seg) AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY user_id, seg) AS mean
  FROM seg
  WINDOW w2 AS (PARTITION BY user_id, seg ORDER BY ts, event_id)),
s2 AS (SELECT *, cum - il * mean AS s_i FROM cur2),
child AS (
  SELECT user_id, CAST(seg + 1 AS INTEGER) AS level_seg,
         CAST(ns AS BIGINT) AS seg_n, event_id AS cp_event_id,
         CAST(il AS INTEGER) AS cp_rank, ABS(s_i) AS score
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, seg
                    ORDER BY ABS(s_i) DESC, il) AS rnk
        FROM s2 WHERE ns >= 2)
  WHERE rnk = 1)
SELECT user_id, CAST(0 AS INTEGER) AS level_seg,
       CAST(n_total AS BIGINT) AS seg_n, root_event_id AS cp_event_id,
       CAST(m1 AS INTEGER) AS cp_rank, root_score AS score
FROM root
UNION ALL
SELECT user_id, level_seg, seg_n, cp_event_id, cp_rank, score
FROM child
ORDER BY user_id, level_seg
"""


# Staged paired-cohort relation per (applicationId, sf_dir) — the
# staging.py "compute once, sweep many" pattern: `spearman_corr`
# alone references the pairing 3× (the pair stream + both rank-map
# builds) and Spark re-executes unpersisted common subtrees per
# reference (18 exchanges → 8 once staged).
@staged("stats.paired_values")
def _paired_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic subject pairing shared by the paired statistics
    (`wilcoxon_signed_rank`, `spearman_corr`, `kendall_tau_pairs`):
    the i-th `_KS_A` ('click') event paired with the i-th `_KS_B`
    ('purchase') event per user, both ranked by (ts, event_id) — one
    row_number window + one equi-join on (user_id, rn), unmatched
    tails dropped. Returns (user_id, rn, va, vb), STAGED (persisted
    once per session/fixture)."""
    e = (load_table(spark, sf_dir, "events")
         .where(F.col("event_type").isin(_KS_A, _KS_B))
         .select("user_id", "event_id", "ts",
                 (F.col("event_type") == _KS_A).alias("is_a"),
                 F.col("value").alias("v")))
    w = Window.partitionBy("user_id", "is_a").orderBy("ts", "event_id")
    r = e.withColumn("rn", F.row_number().over(w))
    a = r.where(F.col("is_a")).select("user_id", "rn",
                                      F.col("v").alias("va"))
    b = r.where(~F.col("is_a")).select("user_id", "rn",
                                       F.col("v").alias("vb"))
    from pyspark import StorageLevel
    p = a.join(b, ["user_id", "rn"]).persist(StorageLevel.MEMORY_AND_DISK)
    return p


#: Oracle mirror of `_paired_values` — a WITH-clause fragment ending
#: in the CTE `p(user_id, rn, va, vb)`.
_PAIRED_SQL = f"""
e AS (
  SELECT user_id, event_id, ts, event_type = '{_KS_A}' AS is_a,
         value AS v
  FROM events WHERE event_type IN ('{_KS_A}', '{_KS_B}')),
r AS (
  SELECT user_id, is_a, v,
         row_number() OVER (PARTITION BY user_id, is_a
                            ORDER BY ts, event_id) AS rn
  FROM e),
p AS (
  SELECT a.user_id, a.rn, a.v AS va, b.v AS vb
  FROM r a JOIN r b ON a.user_id = b.user_id AND a.rn = b.rn
  WHERE a.is_a AND NOT b.is_a)"""


def q_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon SIGNED-rank test — the PAIRED twin of `mannwhitney_u`
    (that one asks "are two independent cohorts at the same level?";
    this one asks "did the same subjects shift?"). Pairs the i-th
    'click' with the i-th 'purchase' per user (both ranked by
    (ts, event_id)), takes d = v_click − v_purchase, drops the exact
    zeros, ranks |d| with AVERAGE ranks for ties — kept EXACT by the
    same doubled-rank integer trick as `mannwhitney_u`: a tie group of
    size c starting after `start` rows has doubled-average-rank
    2·start + c + 1, so 2·W⁺ is an integer. Tie-corrected normal
    approximation: Var(W⁺) = [2n(n+1)(2n+1) − Σ(c³−c)]/48 and
    z = (2W⁺ − n(n+1)/2) / (2√Var) — integer numerators, one sqrt +
    one division over identical operands in both engines.

    Scale shape: pairing is one row_number window + one equi-join on
    (user_id, rn); the |d| ranking reuses the two-level bucketed
    prefix-sum discipline (per-|d| counts, never a global
    single-partition window over raw rows)."""
    d = (_paired_values(spark, sf_dir)
         .select((F.col("va") - F.col("vb")).alias("d"))
         .where(F.col("d") != 0))
    per_val = (d.groupBy(F.abs("d").alias("ad"))
               .agg(F.sum(F.when(F.col("d") > 0, 1).otherwise(0))
                    .alias("cp"),
                    F.sum(F.when(F.col("d") < 0, 1).otherwise(0))
                    .alias("cn"))
               .withColumn("bucket", F.floor(F.col("ad") / _KS_W)))
    win = (Window.partitionBy("bucket").orderBy("ad")
           .rowsBetween(Window.unboundedPreceding, 0))
    in_bucket = per_val.withColumn(
        "ic", F.sum(F.col("cp") + F.col("cn")).over(win))
    per_bucket = (per_val.groupBy("bucket")
                  .agg(F.sum(F.col("cp") + F.col("cn")).alias("bc")))
    bwin = (Window.orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, -1))
    offsets = (per_bucket
               .withColumn("oc", F.coalesce(F.sum("bc").over(bwin),
                                            F.lit(0)))
               .select("bucket", "oc"))
    cum = (in_bucket.join(F.broadcast(offsets), "bucket")
           .select("cp", "cn",
                   (F.col("cp") + F.col("cn")).alias("c"),
                   (F.col("oc") + F.col("ic")
                    - F.col("cp") - F.col("cn")).alias("start")))
    agg = cum.agg(
        F.sum(F.col("cp") * (2 * F.col("start") + F.col("c") + 1))
        .alias("w2_plus"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .alias("tie_sum"),
        F.sum("c").alias("n_nonzero"))
    return agg.select(
        "n_nonzero", "w2_plus",
        (F.col("w2_plus").cast("double") / F.lit(2.0)).alias("w_plus"),
        F.expr(
            "CAST(2 * n_nonzero * (n_nonzero + 1) * (2 * n_nonzero + 1)"
            " - tie_sum AS DOUBLE) / CAST(48.0 AS DOUBLE)")
        .alias("var_w"),
        F.expr(
            "CAST(w2_plus - ((n_nonzero * (n_nonzero + 1)) DIV 2)"
            " AS DOUBLE)"
            " / (CAST(2 AS DOUBLE) * sqrt("
            "CAST(2 * n_nonzero * (n_nonzero + 1) * (2 * n_nonzero + 1)"
            " - tie_sum AS DOUBLE) / CAST(48.0 AS DOUBLE)))")
        .alias("z"))


_WILCOXON_SQL = f"""
WITH {_PAIRED_SQL},
d AS (
  SELECT va - vb AS d FROM p WHERE va - vb <> 0),
per_val AS (
  SELECT ABS(d) AS ad,
         SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS cp,
         SUM(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS cn
  FROM d GROUP BY ABS(d)),
cum AS (
  SELECT cp, cn, cp + cn AS c,
         SUM(cp + cn) OVER (ORDER BY ad ROWS UNBOUNDED PRECEDING)
           - (cp + cn) AS start
  FROM per_val),
agg AS (
  SELECT CAST(SUM(cp * (2 * start + c + 1)) AS BIGINT) AS w2_plus,
         CAST(SUM(c * c * c - c) AS BIGINT) AS tie_sum,
         CAST(SUM(c) AS BIGINT) AS n_nonzero
  FROM cum)
SELECT n_nonzero, w2_plus,
       CAST(w2_plus AS DOUBLE) / 2.0 AS w_plus,
       CAST(2 * n_nonzero * (n_nonzero + 1) * (2 * n_nonzero + 1)
            - tie_sum AS DOUBLE) / CAST(48.0 AS DOUBLE) AS var_w,
       CAST(w2_plus - ((n_nonzero * (n_nonzero + 1)) // 2) AS DOUBLE)
         / (CAST(2 AS DOUBLE) * sqrt(
             CAST(2 * n_nonzero * (n_nonzero + 1) * (2 * n_nonzero + 1)
                  - tie_sum AS DOUBLE) / CAST(48.0 AS DOUBLE))) AS z
FROM agg
"""


def q_seasonal_decompose_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key seasonal decomposition by DAY-OF-WEEK means — the
    weekly-seasonality screen a data pipeline runs before trusting a
    trend test (a pure Mon-vs-Sun effect would otherwise read as
    drift): daily per-user value totals → per-(user, dow) mean daily
    total (the seasonal component) vs the user's overall mean daily
    total (the level), effect = dow_mean − user_mean. Pure window
    algebra over decimal-exact daily sums; the only doubles are the
    two final divisions, identical expression text in both engines.
    Day-of-week is pinned 0=Monday in both (Spark `weekday`, DuckDB
    `isodow − 1`).

    Scale shape: one groupBy (user, day), one groupBy (user, dow)
    (49 rows per user max after the first agg), one per-user window
    over ≤7 rows — no global window, no self-join."""
    e = load_table(spark, sf_dir, "events")
    daily = (e.groupBy("user_id", F.to_date("ts").alias("day"))
             .agg(F.sum(F.col("value").cast(DEC)).alias("day_sum")))
    bydow = (daily.withColumn("dow", F.expr("weekday(day)"))
             .groupBy("user_id", "dow")
             .agg(F.count("*").alias("n_days"),
                  F.sum("day_sum").alias("dow_sum")))
    wk = Window.partitionBy("user_id")
    out = (bydow
           .withColumn("user_sum", F.sum("dow_sum").over(wk))
           .withColumn("user_days", F.sum("n_days").over(wk))
           .withColumn("dow_mean", F.col("dow_sum").cast("double")
                       / F.col("n_days"))
           .withColumn("user_mean", F.col("user_sum").cast("double")
                       / F.col("user_days"))
           .withColumn("seasonal_effect",
                       F.col("dow_mean") - F.col("user_mean")))
    return out.select("user_id", "dow", "n_days", "dow_mean",
                      "user_mean", "seasonal_effect").orderBy(
        "user_id", "dow")


_SEASONAL_SQL = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         SUM(CAST(value AS DECIMAL(25,6))) AS day_sum
  FROM events GROUP BY user_id, CAST(ts AS DATE)),
bydow AS (
  SELECT user_id, isodow(day) - 1 AS dow,
         COUNT(*) AS n_days, SUM(day_sum) AS dow_sum
  FROM daily GROUP BY user_id, isodow(day) - 1),
win AS (
  SELECT user_id, CAST(dow AS INTEGER) AS dow,
         CAST(n_days AS BIGINT) AS n_days,
         CAST(dow_sum AS DOUBLE) / n_days AS dow_mean,
         CAST(SUM(dow_sum) OVER (PARTITION BY user_id) AS DOUBLE)
           / SUM(n_days) OVER (PARTITION BY user_id) AS user_mean
  FROM bydow)
SELECT user_id, dow, n_days, dow_mean, user_mean,
       dow_mean - user_mean AS seasonal_effect
FROM win ORDER BY user_id, dow
"""


def _doubled_ranks(df: DataFrame, col: str) -> DataFrame:
    """Map each distinct value of `col` to its DOUBLED average rank
    over the whole frame (a tie group of size c starting after
    `start` rows has doubled-average-rank 2·start + c + 1 — an exact
    integer, the `mannwhitney_u` trick), computed with the two-level
    bucketed prefix sum (per-distinct-value counts only; no global
    window over raw rows). Returns (col, r2)."""
    per = (df.groupBy(col).agg(F.count("*").alias("c"))
           .withColumn("bucket", F.floor(F.col(col) / _KS_W)))
    win = (Window.partitionBy("bucket").orderBy(col)
           .rowsBetween(Window.unboundedPreceding, 0))
    in_b = per.withColumn("ic", F.sum("c").over(win))
    per_b = per.groupBy("bucket").agg(F.sum("c").alias("bc"))
    bwin = (Window.orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, -1))
    off = (per_b.withColumn("oc", F.coalesce(F.sum("bc").over(bwin),
                                             F.lit(0)))
           .select("bucket", "oc"))
    return (in_b.join(F.broadcast(off), "bucket")
            .select(col,
                    (2 * (F.col("oc") + F.col("ic") - F.col("c"))
                     + F.col("c") + 1).alias("r2")))


#: Pearson-over-integer-moments correlation, one expression text for
#: both engines. Moments arrive as DOUBLE already converted through
#: VARCHAR (exact decimal parse — the HUGEINT→DOUBLE 1-ulp gotcha).
_PEARSON = ("(n * sxy - sx * sy)"
            " / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))")


def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between the paired cohorts — the
    MONOTONE-association screen next to `wilcoxon_signed_rank`'s
    location test (Pearson answers 'linear?', Spearman answers 'same
    ordering?'). Exact under ties: both sides are average-ranked in
    DOUBLED units (`_doubled_ranks` — exact integers), so every
    moment (Σr, Σr², Σr_a·r_b) is an exact integer accumulated in
    DECIMAL(38,0)/HUGEINT and converted to DOUBLE through VARCHAR
    (correctly-rounded decimal parse in both engines; the direct
    HUGEINT→DOUBLE cast drifts 1 ulp past 2^53). The final Pearson
    over doubled ranks equals Pearson over ranks (scale-invariant),
    one expression text both engines.

    Scale shape: rank maps are per-distinct-value frames built with
    bucketed two-level prefix sums; two equi-joins decorate the pair
    stream; ONE single-row moment aggregate. No global raw-row
    window, no pair lattice."""
    p = _paired_values(spark, sf_dir)
    ra = _doubled_ranks(p, "va").withColumnRenamed("r2", "ra2")
    rb = _doubled_ranks(p, "vb").withColumnRenamed("r2", "rb2")
    j = p.join(ra, "va").join(rb, "vb")

    # One operand is cast to DECIMAL(38,0) BEFORE the product so the
    # multiply runs in decimal, never int64 — doubled ranks pass ~3e9
    # at ~1.5e9 pairs and an int64 product would wrap silently while
    # the oracle multiplies in HUGEINT (HUGEINT-first there too).
    def _m(expr):
        return F.expr(f"CAST(CAST(SUM({expr}) AS STRING) AS DOUBLE)")

    d = "CAST({} AS DECIMAL(38,0))"
    mo = j.agg(F.count("*").cast("double").alias("n"),
               _m(d.format("ra2")).alias("sx"),
               _m(d.format("rb2")).alias("sy"),
               _m(d.format("ra2") + " * ra2").alias("sxx"),
               _m(d.format("rb2") + " * rb2").alias("syy"),
               _m(d.format("ra2") + " * rb2").alias("sxy"))
    return mo.select(F.col("n").cast("long").alias("n_pairs"),
                     F.expr(_PEARSON).alias("rho"))


_SPEARMAN_SQL = f"""
WITH {_PAIRED_SQL},
ra AS (
  SELECT va, 2 * (SUM(c) OVER (ORDER BY va ROWS UNBOUNDED PRECEDING)
                  - c) + c + 1 AS ra2
  FROM (SELECT va, COUNT(*) AS c FROM p GROUP BY va)),
rb AS (
  SELECT vb, 2 * (SUM(c) OVER (ORDER BY vb ROWS UNBOUNDED PRECEDING)
                  - c) + c + 1 AS rb2
  FROM (SELECT vb, COUNT(*) AS c FROM p GROUP BY vb)),
j AS (
  SELECT ra.ra2, rb.rb2 FROM p
  JOIN ra ON p.va = ra.va JOIN rb ON p.vb = rb.vb),
mo AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(CAST(SUM(CAST(ra2 AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(CAST(rb2 AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(ra2 AS HUGEINT) * ra2) AS VARCHAR) AS DOUBLE)
           AS sxx,
         CAST(CAST(SUM(CAST(rb2 AS HUGEINT) * rb2) AS VARCHAR) AS DOUBLE)
           AS syy,
         CAST(CAST(SUM(CAST(ra2 AS HUGEINT) * rb2) AS VARCHAR) AS DOUBLE)
           AS sxy
  FROM j)
SELECT CAST(n AS BIGINT) AS n_pairs, {_PEARSON} AS rho
FROM mo
"""


def q_kendall_tau_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b PER USER between the paired cohorts — the
    rank-concordance twin of `spearman_corr` at per-key granularity
    (tau is more robust to a few gross outliers; per-user because the
    pair lattice is O(n²) and per-user n is bounded, exactly the
    `mann_kendall_trend` fanout argument — for unbounded keys route
    through `stride_sampled_pairs`). C − D = Σ over i<j of
    sign(va_i−va_j)·sign(vb_i−vb_j) is an exact integer; tie terms
    n1 = Σ t(t−1)/2 over va groups (n2 over vb) are exact integers;
    tau_b = (C−D)/√((n0−n1)(n0−n2)) is one sqrt + one division over
    identical operands, NULL when either side is fully tied (the
    denominator would be 0 — guarded identically in both engines)."""
    p = _paired_values(spark, sf_dir)
    a, b = p.alias("a"), p.alias("b")
    cd = (a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
                 & (F.col("a.rn") < F.col("b.rn")))
          .groupBy(F.col("a.user_id").alias("user_id"))
          .agg(F.sum((F.signum(F.col("a.va") - F.col("b.va"))
                      * F.signum(F.col("a.vb") - F.col("b.vb")))
                     .cast("long")).alias("cd")))
    n = p.groupBy("user_id").agg(F.count("*").alias("n"))
    t1 = (p.groupBy("user_id", "va").agg(F.count("*").alias("t"))
          .groupBy("user_id")
          .agg(F.sum(F.expr("(t * (t - 1)) DIV 2")).alias("n1")))
    t2 = (p.groupBy("user_id", "vb").agg(F.count("*").alias("t"))
          .groupBy("user_id")
          .agg(F.sum(F.expr("(t * (t - 1)) DIV 2")).alias("n2")))
    out = (n.join(cd, "user_id").join(t1, "user_id").join(t2, "user_id")
           .withColumn("n0", F.expr("(n * (n - 1)) DIV 2"))
           .withColumn("tau_b", F.expr(
               "CASE WHEN n0 > n1 AND n0 > n2 THEN CAST(cd AS DOUBLE)"
               " / sqrt(CAST(n0 - n1 AS DOUBLE)"
               "        * CAST(n0 - n2 AS DOUBLE))"
               " ELSE CAST(NULL AS DOUBLE) END")))
    return out.select("user_id", "n", "n0", "n1", "n2", "cd",
                      "tau_b").orderBy("user_id")


_KENDALL_SQL = f"""
WITH {_PAIRED_SQL},
cd AS (
  SELECT a.user_id,
         CAST(SUM(CAST(sign(a.va - b.va) * sign(a.vb - b.vb) AS BIGINT))
              AS BIGINT) AS cd
  FROM p a JOIN p b ON a.user_id = b.user_id AND a.rn < b.rn
  GROUP BY a.user_id),
n AS (SELECT user_id, COUNT(*) AS n FROM p GROUP BY user_id),
t1 AS (
  SELECT user_id, CAST(SUM((t * (t - 1)) // 2) AS BIGINT) AS n1
  FROM (SELECT user_id, va, COUNT(*) AS t FROM p GROUP BY user_id, va)
  GROUP BY user_id),
t2 AS (
  SELECT user_id, CAST(SUM((t * (t - 1)) // 2) AS BIGINT) AS n2
  FROM (SELECT user_id, vb, COUNT(*) AS t FROM p GROUP BY user_id, vb)
  GROUP BY user_id),
j AS (
  SELECT n.user_id, n.n, (n.n * (n.n - 1)) // 2 AS n0,
         t1.n1, t2.n2, cd.cd
  FROM n JOIN cd ON n.user_id = cd.user_id
  JOIN t1 ON n.user_id = t1.user_id
  JOIN t2 ON n.user_id = t2.user_id)
SELECT user_id, n, CAST(n0 AS BIGINT) AS n0, n1, n2, cd,
       CASE WHEN n0 > n1 AND n0 > n2 THEN CAST(cd AS DOUBLE)
              / sqrt(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE))
            ELSE CAST(NULL AS DOUBLE) END AS tau_b
FROM j
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# Stride-capped pair expansion: bounded per-key work for the O(n²)
# pairwise statistics on UNBOUNDED series
# ---------------------------------------------------------------------------

#: Max sampled pairs per key. Deliberately SMALL relative to the
#: fixture's ~66-event series (66²/2 ≈ 2.2k pairs) so the capped path
#: actually engages in every driver run (stride ≈ 5 at the fixtures),
#: instead of only on a hypothetical hot key.
_PAIR_CAP = 512


def stride_sampled_pairs(e: DataFrame, cap: int = _PAIR_CAP) -> DataFrame:
    """Deterministic hash-free stride subsample of the per-key (i, j)
    pair lattice — the documented production fallback for
    `mann_kendall_trend` / `theil_sen_trend` on UNBOUNDED series
    (their full lattices are O(n²) per key, a job-killer under a hot
    key at 100 TB).

    Stride the i-SIDE: keep anchors where (rn−1) % stride == 0 with
    stride = max(1, ⌈n²/(2·cap)⌉) (exact integer arithmetic), then
    join anchors to ALL later events — ≤ cap + n pairs per key (the
    Σ(n − k·stride) anchor series telescopes to ~n²/(2·stride) ≤ cap,
    plus the first anchor's inevitable n−1 tail), and because the
    anchor filter runs BEFORE the join, pair GENERATION is bounded,
    not just post-filtered. O(cap + n) per key is the right target:
    the quadratic blowup is gone and a linear pass over a key's
    events is the floor for ANY per-key statistic. Systematic (every
    stride-th anchor) beats random here: deterministic ⇒ the DuckDB
    oracle mirrors it row-for-row, and anchors stay uniform over the
    series so the slope/sign sample is unbiased for any trend that is
    stationary in time. stride == 1 ⇒ the EXACT full lattice
    (property-tested equivalence).

    Input: (user_id, event_id, t, v) with t integer micros. Output
    pair rows (user_id, n, stride, i_id, j_id, t_i, t_j, v_i, v_j)."""
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    wk = Window.partitionBy("user_id")
    r = (e.withColumn("rn", F.row_number().over(w))
         .withColumn("n", F.count("*").over(wk))
         .withColumn("stride", F.expr(
             f"GREATEST(CAST(1 AS BIGINT),"
             f" (n * n + {2 * cap - 1}) DIV {2 * cap})")))
    anchors = (r.where((F.col("rn") - 1) % F.col("stride") == 0)
               .select("user_id", "n", "stride",
                       F.col("rn").alias("i_rn"),
                       F.col("event_id").alias("i_id"),
                       F.col("t").alias("t_i"), F.col("v").alias("v_i")))
    later = r.select(F.col("user_id").alias("b_user"),
                     F.col("rn").alias("j_rn"),
                     F.col("event_id").alias("j_id"),
                     F.col("t").alias("t_j"), F.col("v").alias("v_j"))
    return (anchors.join(later,
                         (F.col("user_id") == F.col("b_user"))
                         & (F.col("i_rn") < F.col("j_rn")))
            .select("user_id", "n", "stride", "i_id", "j_id",
                    "t_i", "t_j", "v_i", "v_j"))


def _stride_pairs_sql(cap: int = _PAIR_CAP) -> str:
    """Oracle mirror of `stride_sampled_pairs` (same integer stride,
    same anchor rule, WHERE-filtered instead of pre-join-filtered —
    identical row set)."""
    return f"""
e AS (
  SELECT user_id, event_id, epoch_us(ts) AS t, value AS v FROM events),
r AS (
  SELECT user_id, event_id, t, v,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY t, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM e),
s AS (
  SELECT *, GREATEST(1, (n * n + {2 * cap - 1}) // {2 * cap}) AS stride
  FROM r),
pairs AS (
  SELECT a.user_id, a.n, a.stride, a.event_id AS i_id, b.event_id AS j_id,
         a.t AS t_i, b.t AS t_j, a.v AS v_i, b.v AS v_j
  FROM s a JOIN s b ON a.user_id = b.user_id AND a.rn < b.rn
  WHERE (a.rn - 1) % a.stride = 0)"""


def q_mann_kendall_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall trend SCREEN over the stride-capped pair lattice —
    the bounded-work form of `q_mann_kendall_trend` for unbounded
    series. Reports the sampled sign-sum (an exact integer over the
    deterministic subsample) plus the truncation stats
    (n, stride, n_pairs_sampled, n_pairs_total) so a consumer can see
    exactly how much lattice was dropped. No z-score on purpose: the
    subsample changes Var(S) and a mislabeled significance would be
    worse than none — use the exact test when n is bounded."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("t"),
        F.col("value").alias("v"))
    pairs = stride_sampled_pairs(e)
    return (pairs.groupBy("user_id")
            .agg(F.max("n").alias("n"),
                 F.max("stride").alias("stride"),
                 F.count("*").alias("n_pairs_sampled"),
                 F.sum(F.signum(F.col("v_j") - F.col("v_i"))
                       .cast("long")).alias("s_capped"))
            .withColumn("n_pairs_total",
                        F.expr("(n * (n - 1)) DIV 2"))
            .select("user_id", "n", "stride", "n_pairs_total",
                    "n_pairs_sampled", "s_capped")
            .orderBy("user_id"))


_MK_CAPPED_SQL = f"""
WITH {_stride_pairs_sql()}
SELECT user_id, CAST(MAX(n) AS BIGINT) AS n,
       CAST(MAX(stride) AS BIGINT) AS stride,
       CAST((MAX(n) * (MAX(n) - 1)) // 2 AS BIGINT) AS n_pairs_total,
       COUNT(*) AS n_pairs_sampled,
       CAST(SUM(CAST(sign(v_j - v_i) AS BIGINT)) AS BIGINT) AS s_capped
FROM pairs
GROUP BY user_id
ORDER BY user_id
"""


def q_theil_sen_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen slope over the stride-capped pair lattice — the
    bounded-work form of `q_theil_sen_trend` for unbounded series
    (regression.py's documented fallback, now implemented). Sampled
    pairs per key are O(`_PAIR_CAP` + n) — linear, never quadratic —
    so the per-key median is a plain window sort; no two-phase
    machinery needed, because the CAP (not the data) bounds the
    quadratic term in what shuffles. Same deterministic
    (slope, i_id, j_id) lower-median tiebreak as the exact form;
    stride == 1 degenerates to exactly `theil_sen_trend`
    (property-tested).

    Tied timestamps: pairs with t_i == t_j are EXCLUDED before the
    slope (the exact form joins on a.t < b.t for the same reason — a
    tied pair's slope is a division by zero whose NULL would sort
    differently in Spark vs DuckDB and poison the median row_number).
    The stride anchors still come from the rn lattice (matching
    `mann_kendall_capped`'s exact-MK pair rule); only the slope stage
    drops the zero-Δt pairs."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("t"),
        F.col("value").alias("v"))
    pairs = (stride_sampled_pairs(e)
             .where(F.col("t_i") < F.col("t_j"))
             .withColumn(
                 "slope",
                 (F.col("v_j") - F.col("v_i"))
                 / ((F.col("t_j") - F.col("t_i")).cast("double")
                    / 3600000000.0)))
    wk = Window.partitionBy("user_id")
    ranked = (pairs
              .withColumn("rn", F.row_number().over(
                  wk.orderBy("slope", "i_id", "j_id")))
              .withColumn("n_pairs", F.count("*").over(wk)))
    return (ranked.where(F.col("rn") == F.expr("(n_pairs + 1) DIV 2"))
            .select("user_id", "n", "stride", "n_pairs",
                    F.col("slope").alias("slope_per_hour"))
            .orderBy("user_id"))


_TS_CAPPED_SQL = f"""
WITH {_stride_pairs_sql()},
sl AS (
  SELECT user_id, n, stride, i_id, j_id,
         (v_j - v_i) / (CAST(t_j - t_i AS DOUBLE) / 3600000000.0) AS slope
  FROM pairs WHERE t_i < t_j),
ranked AS (
  SELECT user_id, CAST(n AS BIGINT) AS n, CAST(stride AS BIGINT) AS stride,
         slope,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY slope, i_id, j_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_pairs
  FROM sl)
SELECT user_id, n, stride, n_pairs, slope AS slope_per_hour
FROM ranked WHERE rn = (n_pairs + 1) // 2
ORDER BY user_id
"""


QUERIES = {
    "mann_kendall_trend": (q_mann_kendall_trend, _MK_SQL),
    "ks_two_sample": (q_ks_two_sample, _KS_SQL),
    "mannwhitney_u": (q_mannwhitney_u, _MWU_SQL),
    "cusum_changepoint": (q_cusum_changepoint, _CUSUM_SQL),
    "cusum_binary_seg": (q_cusum_binary_seg, _CUSUM_SEG_SQL),
    "wilcoxon_signed_rank": (q_wilcoxon_signed_rank, _WILCOXON_SQL),
    "spearman_corr": (q_spearman_corr, _SPEARMAN_SQL),
    "kendall_tau_pairs": (q_kendall_tau_pairs, _KENDALL_SQL),
    "seasonal_decompose_dow": (q_seasonal_decompose_dow, _SEASONAL_SQL),
    "seasonal_strength_dow": (q_seasonal_strength_dow, _SEASONAL_STRENGTH_SQL),
    "mann_kendall_capped": (q_mann_kendall_capped, _MK_CAPPED_SQL),
    "theil_sen_capped": (q_theil_sen_capped, _TS_CAPPED_SQL),
}
