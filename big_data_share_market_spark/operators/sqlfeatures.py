"""Spark-4 SQL-surface features as first-class operators: recursive
CTEs, LATERAL correlated subqueries, and event-time RANGE window
frames.

Beyond the reference (its only SQL is one Flink INSERT,
`flink_processor/flink_processor.py:96-110`) — these are the three
SQL constructs a user migrating real warehouse workloads asks about
first, and each one resolves to a scale-safe physical plan worth
pinning:

- `WITH RECURSIVE` (new in Spark 4): the per-key linked-list
  recursion that previously lived only on the ORACLE side now runs
  on Spark verbatim — `recursive_cte_kalman` executes the SAME
  recursive SQL text as DuckDB, making it the third implementation
  of the Kalman local-level filter next to the batch Arrow kernel
  (`operators/ewm.q_kalman_level`) and the streaming state machine
  (`streaming/state.kalman_per_key`). Linked-list recursion (join on
  rn = prev.rn + 1) is cycle-free and grows one series step per
  level — the safe recursion shape; a UNION ALL walk over the cyclic
  co-purchase graph would explode combinatorially and is
  deliberately NOT demonstrated.
- `LATERAL` correlated subquery with ORDER BY ... LIMIT k: Catalyst
  DECORRELATES it into WindowGroupLimit — a map-side partial top-k
  BEFORE the shuffle, then the final top-k, then a broadcast join
  back to the outer row — i.e. the hand-written topk_per_group
  window, derived automatically from the correlated form users
  actually write. The plan pin (tests/test_plans.py) holds both the
  Partial WindowGroupLimit and the absence of any per-outer-row
  re-execution.
- RANGE window frames over event time: `rolling_24h_value` sums each
  user's trailing 24 h of activity per event — a TIME-bounded frame
  (rows at irregular timestamps), where every prior rolling metric
  in the tree is ROW-count bounded. The frame bound is exact integer
  micros in both engines; sums go through DECIMAL(25,6) (the
  functions.dsum discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import DEC, dsum_over_sql
from ..session import scoped_conf
from ..staging import staged
from ..tables import load_table


#: Last checkpointed recursion result per (app, fixture). The
#: localCheckpoint blocks have TRUNCATED lineage and no auto-eviction,
#: so repeated registry/bench invocations would accumulate pinned
#: MEMORY_AND_DISK storage; unpersisting the previous result on
#: re-invocation bounds the footprint to one result frame per fixture.
#: Cluster note: localCheckpoint blocks live on executors — an
#: executor loss makes the frame unrecoverable (lineage is gone).
#: Fine on this single-JVM harness; a multi-executor deployment of
#: this API-parity lane should use reliable checkpoint() to HDFS or
#: simply not checkpoint (the recursion re-runs instead).
_RCTE_RESULT: dict[tuple, DataFrame] = {}


# Staged ranked input for the recursive Kalman (compute-once-per-
# (SparkContext, sf_dir), the staging.py lifecycle) — without it the
# recursion re-scans AND re-windows the base CTE at EVERY level
# (measured 44 s at sf0.1; Spark does not materialize non-recursive
# CTE terms the way DuckDB's MATERIALIZED does).
@staged("sqlfeatures.rcte_ranked")
def _rcte_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "rcte_events")
    # SAME expression text as the oracle's base CTE `s`.
    ranked = spark.sql("""
        SELECT user_id, event_id, ts, CAST(value AS DOUBLE) AS y,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM rcte_events WHERE value IS NOT NULL
    """).persist(StorageLevel.MEMORY_AND_DISK)
    return ranked


def q_recursive_cte_kalman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Kalman local-level filter in PURE SQL via Spark 4's
    WITH RECURSIVE — the same recursion text DuckDB runs as the
    oracle (`streaming/batch_parity._STREAM_KALMAN_SQL`), so Spark ≡
    oracle reduces to both engines executing one recurrence over IEEE
    doubles with the same op order; the third implementation of this
    filter next to the batch Arrow kernel (ewm.q_kalman_level) and
    the streaming state machine (state.kalman_per_key).

    Each recursion level joins the previous level (one row per key)
    to the rn = prev + 1 slice of the ranked input: level count =
    series length (~66 at every SF — the fixture scales KEYS with
    volume, not series length), rows per level = n_keys. The ranked
    input is STAGED (persisted once per session/fixture) because the
    recursion references it at every level and Spark re-executes
    unmaterialized CTE terms per reference — 44 s → ~13 s at sf0.1.
    The Arrow kernel (0.8 s) remains the production lane; this is
    the SQL-surface parity demo, priced honestly in BENCH_NOTES."""
    from ..operators.ewm import _KAL_Q, _KAL_R

    ranked = _rcte_ranked(spark, sf_dir)
    ranked.createOrReplaceTempView("rcte_kalman_s")
    # The linked-list recursion emits exactly one row per input row,
    # so Spark's runaway-recursion safety valve (cteRecursionRowLimit,
    # default 1e6 — trips at sf >= 1.0) can be sized from DATA, not
    # guessed: the level limit (default 100 > max series length ~66)
    # remains the structural bound. The count is free — the relation
    # is staged/persisted.
    #
    # The raise is SCOPED (scoped_conf): the recursion executes
    # eagerly inside the raised window (localCheckpoint materializes
    # the blocks and truncates lineage, so the returned frame never
    # re-reads the conf), then whatever the session had is restored —
    # no ratchet left behind for later fixtures or other queries
    # (tests/test_sqlfeatures_conf.py pins conf-unchanged-after-run).
    key = "spark.sql.cteRecursionRowLimit"
    needed = max(2_000_000, int(ranked.count() * 2))
    raise_to = ({key: str(needed)}
                if needed > int(spark.conf.get(key, None) or "1000000")
                else {})
    q, r = f"CAST({_KAL_Q} AS DOUBLE)", f"CAST({_KAL_R} AS DOUBLE)"
    with scoped_conf(spark, raise_to):
        # The recursion body mirrors _STREAM_KALMAN_SQL verbatim, with
        # the base CTE swapped for the staged view.
        out = spark.sql(f"""
WITH RECURSIVE h AS (
  SELECT user_id, event_id, ts, rn, y, y AS l,
         CAST(1.0 AS DOUBLE) AS p, CAST(NULL AS DOUBLE) AS k
  FROM rcte_kalman_s WHERE rn = 1
  UNION ALL
  SELECT q2.user_id, q2.event_id, q2.ts, q2.rn, q2.y,
         q2.l + q2.k * (q2.y - q2.l) AS l,
         (1.0 - q2.k) * q2.pp AS p,
         q2.k
  FROM (
    SELECT s.user_id, s.event_id, s.ts, s.rn, s.y, h.l,
           h.p + {q} AS pp,
           (h.p + {q}) / ((h.p + {q}) + {r}) AS k
    FROM h JOIN rcte_kalman_s s
      ON s.user_id = h.user_id AND s.rn = h.rn + 1) q2)
SELECT user_id, event_id, ts, y AS close,
       l AS kal_level, p AS kal_p, k AS kal_gain
FROM h
""").localCheckpoint(eager=True)
    ck = (spark.sparkContext.applicationId, sf_dir)
    prev = _RCTE_RESULT.pop(ck, None)
    if prev is not None:
        prev.unpersist()
    _RCTE_RESULT[ck] = out
    return out


def _recursive_kalman_sql() -> str:
    from ..streaming.batch_parity import _STREAM_KALMAN_SQL
    return _STREAM_KALMAN_SQL


_TOPK = 3


def q_lateral_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer top-3 orders by price via a LATERAL correlated
    subquery — the form users write when they think "for each
    customer, run this little query". Catalyst decorrelates it into
    WindowGroupLimit (map-side PARTIAL top-k before the shuffle →
    final top-k → broadcast join back to customer), so the correlated
    spelling costs exactly what the hand-written window spelling
    (`topk_per_group`) costs — pinned in tests/test_plans.py. BUILDING
    segment only, to keep the demo selective on the outer side too."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "lat_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "lat_orders")
    return spark.sql(f"""
        SELECT c.c_custkey, c.c_name, t.o_orderkey, t.o_totalprice
        FROM lat_customer c, LATERAL (
          SELECT o_orderkey, o_totalprice FROM lat_orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT {_TOPK}) t
        WHERE c.c_mktsegment = 'BUILDING'
        ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
    """)


_LATERAL_TOPK_SQL = f"""
SELECT c.c_custkey, c.c_name, t.o_orderkey, t.o_totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT {_TOPK}) t
WHERE c.c_mktsegment = 'BUILDING'
ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
"""

_DAY_US = 24 * 3600 * 1_000_000


def q_rolling_24h_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24 h activity per event: for every event, the count
    and decimal-exact value sum of the SAME user's events in
    (ts − 24 h, ts] — an event-time RANGE frame over irregular
    timestamps (every other rolling metric in the tree is ROW-count
    framed). One hash exchange on user_id; the frame bound is exact
    integer micros so both engines cut it identically."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("t"))
    w = (Window.partitionBy("user_id").orderBy("t")
         .rangeBetween(-(_DAY_US - 1), 0))
    return (e.select(
        "user_id", "event_id", "ts",
        F.count("*").over(w).alias("n_24h"),
        F.sum(F.col("value").cast(DEC)).over(w).cast("double")
        .alias("sum_24h"))
        .orderBy("user_id", "event_id"))


_ROLLING_24H_SQL = f"""
SELECT user_id, event_id, ts,
       COUNT(*) OVER w AS n_24h,
       {dsum_over_sql('value', 'w')} AS sum_24h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN {_DAY_US - 1} PRECEDING AND CURRENT ROW)
ORDER BY user_id, event_id
"""


QUERIES = {
    "recursive_cte_kalman": (q_recursive_cte_kalman,
                             _recursive_kalman_sql()),
    "lateral_topk_orders": (q_lateral_topk_orders, _LATERAL_TOPK_SQL),
    "rolling_24h_value": (q_rolling_24h_value, _ROLLING_24H_SQL),
}
