"""Fixture table loaders.

All driver fixtures are single Parquet files per table
(`/root/testdata/sf*/NAME.parquet`, see TESTDATA.md). Loading is a
`spark.read.parquet` so Catalyst keeps predicate pushdown, column
pruning, and partition-count autotuning
(`spark.sql.files.maxPartitionBytes` splits big files into tasks) — at
100 TB these would be directory-partitioned tables and the same call
prunes partitions.

A plain `spark.read.parquet` also runs one Spark job per call to read
a footer and infer the schema (~70 ms on a 4-core host, against ~13 ms
with the schema given), and every query build loads its tables again.
So `load_table` infers a table's schema once and then reads with
`spark.read.schema(schema).parquet(path)`. The inferred schema is kept
in a bounded memo keyed on the applicationId, the path, the file's
(size, st_mtime_ns, inode) stamp and the session's Parquet-inference
confs: a rewritten file, or a conf that changes what inference
returns, infers again. Only the schema is memoized; the file listing
and the DataFrame are made fresh on every call. A path that is not a
single local file (missing, a table directory, a remote URI) takes the
plain inferring read, so a missing table raises Spark's own error.
"""

from __future__ import annotations

import functools
import os
import stat
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


#: Session confs that change what Parquet schema inference returns.
_INFERENCE_CONFS = tuple(f"spark.sql.{k}" for k in (
    "parquet.binaryAsString", "parquet.int96AsTimestamp",
    "parquet.inferTimestampNTZ.enabled", "caseSensitive",
    "parquet.mergeSchema"))


def _file_stamp(path: str) -> tuple | None:
    """(size, st_mtime_ns, inode) of a single-file table; None for a
    table directory or a path that cannot be stat'ed."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (st.st_size, st.st_mtime_ns, st.st_ino)


@functools.lru_cache(maxsize=256)
def _schema_slot(key: tuple) -> list:
    """The memo entry for one (app, path, file stamp, confs) key: an
    empty list until the first read under that key stores its schema."""
    return []


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    stamp = _file_stamp(path)
    if stamp is None:
        return spark.read.parquet(path)
    slot = _schema_slot((
        spark.sparkContext.applicationId, os.path.abspath(path), stamp,
        tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)))
    if slot:
        return spark.read.schema(slot[0]).parquet(path)
    df = spark.read.parquet(path)
    slot.append(df.schema)
    return df


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
