"""Streaming pipeline: file-source replay of `events`, watermarked
tumbling OHLC bars, and the signal CASE over bars — the reference's
Kafka → Flink(CASE) → upsert pipeline re-expressed
(`flink_processor/flink_processor.py:52-121`).

Scale notes: the windowed aggregation is a streaming state-store agg
keyed by (user_id, window) — partial aggregation map-side, state
pruned by the watermark (G2). On a cluster the same code reads
`format("kafka")` instead of parquet; nothing else changes.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Explicit source schema (streaming reads cannot infer). The fixture
#: parquet stores `ts` as timestamp[us], which the parquet source reads
#: natively as TIMESTAMP — same dtype the batch path yields
#: (tables.load_table), so batch/stream parity is exact.
EVENTS_DDL = ("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
              "event_type STRING, value DOUBLE, props STRING")


def stage_table_symlink(sf_dir: str, table: str, dir_tag: str) -> str:
    """The file stream source requires a DIRECTORY; the fixtures are
    read-only single files, so stage a symlink dir (no data copy).
    Replaces a dangling symlink left behind by fixture regeneration
    at a different path. THE one implementation of the stale-link
    repair, shared by every stream_* source (events here,
    documents/embeddings/orders via batch_parity._table_stream) —
    a fix lands everywhere at once."""
    src_dir = f"/tmp/bdsm_stream_{dir_tag}{sf_dir.replace('/', '_')}"
    link = f"{src_dir}/{table}-0.parquet"
    os.makedirs(src_dir, exist_ok=True)
    if os.path.islink(link) and not os.path.exists(link):
        os.remove(link)
    if not os.path.islink(link):
        os.symlink(f"{sf_dir}/{table}.parquet", link)
    return src_dir


def _stage_events_dir(sf_dir: str, suffix: str = "") -> str:
    return stage_table_symlink(sf_dir, "events", f"src{suffix}")


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the events fixture as a stream (G1 event time derived
    from the raw field, exactly like the reference's computed `ts`
    column, `flink_processor/flink_processor.py:56`)."""
    return (
        spark.readStream.schema(EVENTS_DDL)
        .format("parquet")
        .load(_stage_events_dir(sf_dir))
    )


#: End-of-replay barrier instant — far past any fixture event.
FLUSH_TS = "2099-01-01 00:00:00"


def events_stream_flushed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay variant that appends ONE sentinel event (user_id=-1,
    event_type='__flush__') at :data:`FLUSH_TS`, far past every real
    event. Replays and backfills use exactly this barrier trick to
    close out watermarked state at end-of-stream: outer-join and
    session state can only be finalized once the watermark PASSES the
    last real event, which a finite replay otherwise never achieves.

    Caveat for consumers: Catalyst pushes deterministic filters BELOW
    the EventTimeWatermark node, so a filter that drops the sentinel
    drops it before it can advance the clock. Let the sentinel flow
    through the per-side filters (it carries user_id = -1, so one
    post-join `user_id >= 0` removes its output)."""
    src_dir = _stage_events_dir(sf_dir, suffix="f")
    flush = f"{src_dir}/events-1-flush.parquet"
    # ALWAYS rewritten: the file source orders files by modification
    # time, and the barrier only works if the sentinel sorts AFTER the
    # real events — a sentinel cached from a previous provisioning
    # could predate a regenerated fixture and silently flip the order
    # (watermark jumps to 2098 in batch 1, every real event dropped
    # as late). Rewriting also picks up FLUSH_TS/schema changes.
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    sentinel = pa.table({
        "event_id": pa.array([-1], pa.int64()),
        "ts": pa.array(
            [dt.datetime.fromisoformat(FLUSH_TS)], pa.timestamp("us")),
        "user_id": pa.array([-1], pa.int64()),
        "event_type": pa.array(["__flush__"], pa.string()),
        "value": pa.array([0.0], pa.float64()),
        "props": pa.array(["{}"], pa.string()),
    })
    pq.write_table(sentinel, flush)
    return (
        spark.readStream.schema(EVENTS_DDL)
        .format("parquet")
        # One file per micro-batch: the sentinel lands in its own
        # batch AFTER the watermark has absorbed the real events, so
        # the batch that processes it both advances the clock to
        # FLUSH_TS and (in the availableNow trailing batch) flushes
        # remaining outer-join / session state.
        .option("maxFilesPerTrigger", 1)
        .load(src_dir)
    )


def with_watermark(sdf: DataFrame, delay: str = "1 second") -> DataFrame:
    """G2: bounded disorder, the reference's `WATERMARK FOR ts AS ts -
    INTERVAL '1' SECOND` (`flink_processor/flink_processor.py:64`)."""
    return sdf.withWatermark("ts", delay)


def stream_ohlc_bars(sdf: DataFrame, width: str = "1 hour") -> DataFrame:
    """G5: tumbling-window OHLCV bars per key from the raw stream —
    identical aggregate expressions to the batch form
    (operators/transforms.ohlc_bars) so batch/stream parity is exact."""
    order_key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        with_watermark(sdf)
        .groupBy("user_id", F.window("ts", width).alias("win"))
        .agg(
            F.min_by("value", order_key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", order_key).alias("close"),
            F.count("*").alias("volume"),
        )
        .select("user_id", F.col("win.start").alias("bar_ts"),
                "open", "high", "low", "close", "volume")
    )


def stream_sliding_bars(sdf: DataFrame, width: str = "4 hours",
                        slide: str = "1 hour") -> DataFrame:
    """G5 sliding windows: each event lands in width/slide overlapping
    windows (4 here). State cost is a constant factor over tumbling —
    the watermark still prunes; the overlap factor is the knob to watch
    at 100 TB (4x state, 4x output rows)."""
    order_key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        with_watermark(sdf)
        .groupBy("user_id", F.window("ts", width, slide).alias("win"))
        .agg(
            F.min_by("value", order_key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", order_key).alias("close"),
            F.count("*").alias("volume"),
        )
        .select("user_id", F.col("win.start").alias("bar_ts"),
                "open", "high", "low", "close", "volume")
    )


def stream_session_windows(sdf: DataFrame, gap: str = "4 hours") -> DataFrame:
    """G5 session windows: gap-based merging per key
    (`F.session_window`) — events closer than `gap` coalesce; window
    end = last event + gap. Spark merges sessions in the state store
    keyed by (user_id, session); the watermark closes sessions whose
    end has passed, so state stays bounded by active sessions only."""
    from ..functions import dsum
    return (
        with_watermark(sdf)
        .groupBy("user_id", F.session_window(F.col("ts"), gap).alias("win"))
        .agg(F.count("*").alias("n_events"),
             dsum(F.col("value")).alias("sum_value"))
        .select("user_id", F.col("win.start").alias("session_start"),
                F.col("win.end").alias("session_end"),
                "n_events", "sum_value")
    )


def signal_over_bars(bars: DataFrame) -> DataFrame:
    """B2 verbatim over barred data — the Flink job's CASE
    (`flink_processor/flink_processor.py:105-109`): close vs open
    within the row, stateless, so it runs identically on a stream."""
    return bars.withColumn(
        "indicator",
        F.when(F.col("close") > F.col("open"), "BUY")
        .when(F.col("close") < F.col("open"), "SELL")
        .otherwise("HOLD"),
    )


def run_available_now(sdf: DataFrame, spark: SparkSession,
                      output_mode: str = "complete") -> DataFrame:
    """Execute a streaming DataFrame to completion over the currently
    available data (availableNow trigger → memory sink) and return the
    materialized result. Complete mode is the test-harness choice: the
    final window would otherwise be withheld as not-yet-finalized by
    the watermark at end-of-stream. The memory sink's temp view is
    dropped at once: the returned DataFrame keeps the sink's rows, so
    repeated runs leave no `mem_*` table in the catalog."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    q = (
        sdf.writeStream.format("memory").queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def run_with_cadence(sdf: DataFrame, spark: SparkSession,
                     interval: str = "60 seconds",
                     output_mode: str = "complete"):
    """G7: the production ingestion-cadence form — a long-running
    query triggered every `interval` (the reference producer's 60 s
    re-send loop, `kafka_producer/yahoo_finance_producer.py:117-119`).
    Returns (query, result_table): the caller reads the continuously
    refreshed table and must `query.stop()` when done. The harness
    uses :func:`run_available_now` instead because its queries must
    terminate; this entry point is the deployment shape."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    q = (
        sdf.writeStream.format("memory").queryName(name)
        .outputMode(output_mode)
        .trigger(processingTime=interval)
        .start()
    )
    q.processAllAvailable()
    return q, spark.table(name)
