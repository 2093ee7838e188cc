"""Fixture table loaders.

All driver fixtures are single Parquet files per table
(`/root/testdata/sf*/NAME.parquet`, see TESTDATA.md). Loading stays a
plain `spark.read.parquet` so Catalyst keeps predicate pushdown,
column pruning, and partition-count autotuning
(`spark.sql.files.maxPartitionBytes` splits big files into tasks) — at
100 TB these would be directory-partitioned tables and the same call
prunes partitions.
"""

from __future__ import annotations

from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession

from .session import scoped_conf

S = TypeVar("S")

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Dimension tables small enough to broadcast at any scale factor the
# harness runs; fact tables never are.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def fan_out(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Round-robin repartition up to core count when the scan yields
    fewer partitions than cores. For CPU-bound per-row kernels (md5
    shingle hashing, tokenization) a single-file scan otherwise pins
    the whole map stage to ONE task; the explicit numPartitions form
    is exempt from AQE partition coalescing, so the width sticks. At
    100 TB the scan already has >= cores splits and this is a no-op
    (guarded by getNumPartitions), costing zero shuffles."""
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def kernel_width(df: DataFrame, per_partition_bytes: int = 128 << 20) -> int | None:
    """Scale-adaptive shuffle width for keyed partition-wide kernels
    (theil_sen_fit, _apply_ewm): with `repartition(key)` the width is
    `spark.sql.shuffle.partitions` — constant — so partition BYTES
    grow linearly with input and a 100 TB run walks into the §5
    spill/OOM cliff. When the optimizer's size estimate says the
    default width would exceed `per_partition_bytes` per partition,
    return the wider explicit count (ceil(bytes/target)); otherwise
    return None and the caller keeps the plain `repartition(key)`
    (identical plan at fixture scale, AQE coalescing intact). The
    estimate is the pre-shuffle optimized-plan size — conservative
    for these kernels, whose input is a pruned scan."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
        default = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        return None
    if size >= 1 << 50:
        # "Unknown" sentinel (RDD-backed plans report
        # spark.sql.defaultSizeInBytes = Long.MaxValue): no usable
        # estimate — keep the session default rather than exploding
        # the width to 2^36 partitions.
        return None
    need = -(-size // per_partition_bytes)
    return need if need > default else None


def keyed_repartition(df: DataFrame, *cols: str,
                      per_partition_bytes: int = 128 << 20) -> DataFrame:
    """`df.repartition(*cols)` whose width scales with input bytes —
    see :func:`kernel_width`."""
    width = kernel_width(df, per_partition_bytes)
    if width is None:
        return df.repartition(*cols)
    return df.repartition(width, *cols)


def freeze(df: DataFrame, *, narrow: bool) -> DataFrame:
    """Materialize `df` and cut its lineage (`localCheckpoint`), first
    onto one partition when `narrow` — see :func:`iterate`."""
    return (df.coalesce(1) if narrow else df).localCheckpoint()


def iterate(spark: SparkSession, state: S,
            step: Callable[[int, S], S | None], *,
            rounds: int, narrow: bool) -> tuple[S, int]:
    """Run an eager driver loop: `state = step(i, state)` for
    i = 1..rounds, stopping early when `step` returns None (the state
    it was handed is a fixpoint). Returns (state, rounds_run), where
    rounds_run counts the steps that returned a new state.

    The loop's physical policy lives here and nowhere else:
    * Freeze. A DataFrame state is frozen on entry and after every
      round (:func:`freeze`), so each round plans against a constant-
      depth scan instead of a lineage that grows — or, when a round
      references the state more than once, multiplies — per round.
      Steps hand back lazy frames; they call `freeze` themselves only
      for side relations they read within the round.
    * Width. `narrow` loops carry a node- or vector-sized state (a few
      thousand rows at fixture scale) that would otherwise inherit
      `spark.sql.shuffle.partitions` tasks, so a round's cost would be
      task scheduling, not work: each freeze coalesces to one
      partition, and later broadcasts read one block. At web scale
      (state beyond one task) pass narrow=False — the loop is the same.
    * AQE scope. A `narrow` loop runs with AQE off, restored on exit:
      each round's tiny capped shuffle otherwise pays AQE's
      per-exchange materialization jobs to re-plan it. Measured (r11)
      same-session: the k-core peel build 4.3-4.7 → 3.1-3.9 s, a PCA
      power step 0.74 → 0.47 s. The frames a caller gets back are
      planned after the scope closes, under the session's own AQE.
    * Budget. At most `rounds` steps; a step that sees a fixpoint
      returns None, since every later round would be a no-op."""
    def settle(s):
        return freeze(s, narrow=narrow) if isinstance(s, DataFrame) else s

    aqe_off = {"spark.sql.adaptive.enabled": "false"} if narrow else {}
    with scoped_conf(spark, aqe_off):
        state = settle(state)
        for i in range(1, rounds + 1):
            nxt = step(i, state)
            if nxt is None:
                return state, i - 1
            state = settle(nxt)
    return state, rounds


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql use."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
