"""Custom Python data source (Spark 4 `pyspark.sql.datasource` API):
the reference's synthetic tick producer as a FIRST-CLASS Spark source.

The reference generates ticks in a standalone producer process and
ships them through Kafka (`kafka_producer/yahoo_finance_producer.py:
8-119`). Here the generator IS a pluggable Spark source: register
once, then `spark.read.format("bdsm_ticks").option(...)` anywhere —
the planner asks the source for its partitions (one per symbol) and
schedules each as an ordinary task, so generation is distributed,
column-pruned at the Arrow boundary, and composes with every operator
in the engine. This is the source-extensibility axis the connector
module (`sources/connectors.py`) can't show: connectors configure
built-in formats; this module IMPLEMENTS a format.

Determinism discipline: every generated cell derives from md5 of
"symbol:seq" — the same engine-portable 60-bit hash trick as
`operators/sketches.q_kmv_distinct_merge` — so a DuckDB oracle
REGENERATES the identical table from generate_series + md5 and the
parity harness value-checks a source that never touches disk.

Scale notes: `partitions()` returns one split per symbol; a real
deployment would sub-split hot symbols by seq-range (the option
`rows_per_split` below does exactly that), giving the same
split-planning contract a parquet scan has. Generation is pure CPU,
no shuffle; everything downstream is ordinary DataFrame algebra.
"""

from __future__ import annotations

import datetime as dt
import hashlib

from pyspark.sql import DataFrame, SparkSession

#: Generator parameters (defaults; overridable via reader options).
_SYMBOLS = "AAPL,GOOG,MSFT,TSLA"
_N_PER_SYMBOL = 256
_START = dt.datetime(2024, 1, 1, 9, 30, 0)
_INTERVAL_S = 60

_SCHEMA = ("symbol string, seq bigint, ts timestamp, "
           "price double, size bigint")


def _h60(key: str) -> int:
    """60-bit md5 hash, identical to DuckDB's
    CAST(('0x' || substring(md5(key), 1, 15)) AS BIGINT)."""
    return int(hashlib.md5(key.encode()).hexdigest()[:15], 16)


def _tick(symbol: str, seq: int, start: dt.datetime, interval_s: int):
    h = _h60(f"{symbol}:{seq}")
    price = 100.0 + (h % 10000) / 100.0
    size = h % 997 + 1
    return (symbol, seq, start + dt.timedelta(seconds=seq * interval_s),
            price, size)


def _tick_fn():
    """A DYNAMIC twin of :func:`_tick` for the DataSource factories.

    The factory classes are cloudpickled to Python runner processes:
    executors get this package via addPyFile, but the DRIVER-side
    streaming source planner (python_streaming_source_runner) does
    not, so a pickled reference to a module-level function
    (`pydatasource._tick`) raises ModuleNotFoundError there when the
    driver's cwd is not the repo root. A function DEFINED AT CALL TIME
    is pickled BY VALUE (code + closure), making the shipped classes
    self-contained; only stdlib imports remain by reference. Same
    arithmetic as `_tick`, pinned by tests/test_pydatasource.py."""
    import datetime as _dt
    import hashlib as _hl

    def tick(symbol: str, seq: int, start, interval_s: int):
        h = int(_hl.md5(f"{symbol}:{seq}".encode()).hexdigest()[:15], 16)
        price = 100.0 + (h % 10000) / 100.0
        size = h % 997 + 1
        return (symbol, seq,
                start + _dt.timedelta(seconds=seq * interval_s),
                price, size)

    return tick


def make_tick_datasource():
    """Build the DataSource class lazily (pyspark.sql.datasource import
    kept out of module import time so registry collection stays cheap)."""
    from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                        InputPartition)

    tick = _tick_fn()  # pickled by value — see _tick_fn

    class _TickPartition(InputPartition):
        def __init__(self, symbol: str, lo: int, hi: int):
            self.symbol = symbol
            self.lo = lo
            self.hi = hi

    class _TickReader(DataSourceReader):
        def __init__(self, options):
            self.symbols = options.get("symbols", _SYMBOLS).split(",")
            self.n = int(options.get("n_per_symbol", _N_PER_SYMBOL))
            self.start = dt.datetime.fromisoformat(
                options.get("start", _START.isoformat()))
            self.interval_s = int(options.get("interval_s", _INTERVAL_S))
            self.rows_per_split = int(
                options.get("rows_per_split", self.n))

        def partitions(self):
            return [
                _TickPartition(s, lo, min(lo + self.rows_per_split, self.n))
                for s in self.symbols
                for lo in range(0, self.n, self.rows_per_split)
            ]

        def read(self, partition):
            for seq in range(partition.lo, partition.hi):
                yield tick(partition.symbol, seq, self.start,
                           self.interval_s)

    class TickDataSource(DataSource):
        @classmethod
        def name(cls):
            return "bdsm_ticks"

        def schema(self):
            return _SCHEMA

        def reader(self, schema):
            return _TickReader(self.options)

    return TickDataSource


def q_python_datasource_ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the custom source (8 splits: 4 symbols × 2 seq-ranges, so
    the split-planning path is exercised, not just one task) and roll
    it up per symbol — count, exact decimal VWAP, hash-checksums of
    price/size — proving the generated table is bit-identical to the
    oracle's regeneration. `sf_dir` is unused: the source generates."""
    from pyspark.sql import functions as F

    from ..functions import dsum

    spark.dataSource.register(make_tick_datasource())
    ticks = (spark.read.format("bdsm_ticks")
             .option("rows_per_split", _N_PER_SYMBOL // 2)
             .load())
    return (ticks.groupBy("symbol")
            .agg(F.count("*").alias("n_ticks"),
                 F.min("ts").alias("first_ts"),
                 F.max("ts").alias("last_ts"),
                 (dsum(F.col("price") * F.col("size"))
                  / F.sum("size")).alias("vwap"),
                 F.sum(F.col("seq") * F.col("size")).alias("size_checksum"))
            .orderBy("symbol"))


_TICKS_SQL = f"""
WITH syms AS (
  SELECT unnest(string_split('{_SYMBOLS}', ',')) AS symbol),
ticks AS (
  SELECT symbol, seq,
         TIMESTAMP '{_START.isoformat(sep=' ')}'
           + to_seconds(seq * {_INTERVAL_S}) AS ts,
         100.0 + (h % 10000) / 100.0 AS price,
         h % 997 + 1 AS size
  FROM (
    SELECT symbol, gs.generate_series AS seq,
           CAST(('0x' || substring(md5(symbol || ':' || CAST(gs.generate_series AS VARCHAR)), 1, 15))
                AS BIGINT) AS h
    FROM syms, generate_series(0, {_N_PER_SYMBOL - 1}) gs))
SELECT symbol, COUNT(*) AS n_ticks,
       MIN(ts) AS first_ts, MAX(ts) AS last_ts,
       CAST(SUM(CAST(price * size AS DECIMAL(25,6))) AS DOUBLE)
         / CAST(SUM(size) AS DOUBLE) AS vwap,
       CAST(SUM(seq * size) AS BIGINT) AS size_checksum
FROM ticks GROUP BY symbol ORDER BY symbol
"""


QUERIES = {
    "python_datasource_ticks": (q_python_datasource_ticks, _TICKS_SQL),
}


# ---------------------------------------------------------------------------
# Streaming form: offset-managed custom stream reader
# ---------------------------------------------------------------------------

#: Rows (per symbol) admitted per micro-batch by the stream reader —
#: 256/64 = 4 micro-batches over the default range, so the offset
#: lifecycle (initialOffset → latestOffset → partitions → commit) is
#: exercised across several batches, not one.
_BATCH_SEQS = 64


def make_tick_stream_datasource():
    """The tick generator as a STREAMING source (DataSourceStreamReader):
    offsets are {"seq": n} watermarks into the deterministic sequence,
    `latestOffset` admits `_BATCH_SEQS` new seqs per micro-batch (rate
    limiting — the maxFilesPerTrigger of a custom source), `partitions`
    plans one split per symbol per range, and `commit` is where a real
    source would ack upstream. WITHIN a run, exactly-once comes from
    determinism: replaying (start, end) regenerates identical rows,
    the same contract a Kafka offset range gives the built-in source.

    ACROSS a process restart the rate-limit cursor must not regress
    below the checkpoint's committed offset (a fresh reader starts at
    0; Spark never tells `latestOffset` where the offset log left
    off): pass `progress_path=<file>` and `commit()` persists the
    committed seq there, `__init__` restores it — the source-side
    progress store a real connector keeps in the upstream system
    (Kafka: the broker IS that store). Without `progress_path` the
    restart contract is scoped to FRESH checkpoints (the demo-query
    configuration); the in-run monotone clamps in `partitions` still
    prevent a regressed cursor from ever re-emitting a committed
    range."""
    import os

    from pyspark.sql.datasource import (DataSource, DataSourceStreamReader,
                                        InputPartition)

    tick = _tick_fn()  # pickled by value — see _tick_fn

    class _RangePartition(InputPartition):
        def __init__(self, symbol: str, lo: int, hi: int):
            self.symbol = symbol
            self.lo = lo
            self.hi = hi

    class _TickStreamReader(DataSourceStreamReader):
        def __init__(self, options):
            self.symbols = options.get("symbols", _SYMBOLS).split(",")
            self.n = int(options.get("n_per_symbol", _N_PER_SYMBOL))
            self.start_ts = dt.datetime.fromisoformat(
                options.get("start", _START.isoformat()))
            self.interval_s = int(options.get("interval_s", _INTERVAL_S))
            self.batch = int(options.get("batch_seqs", _BATCH_SEQS))
            self.progress_path = options.get("progress_path")
            self._cur = 0
            if self.progress_path and os.path.exists(self.progress_path):
                # Restart: resume the rate-limit cursor from the last
                # COMMITTED offset so latestOffset never regresses
                # below what the checkpoint already processed.
                with open(self.progress_path) as fh:
                    self._cur = int(fh.read().strip() or 0)

        def initialOffset(self) -> dict:
            return {"seq": 0}

        def latestOffset(self) -> dict:
            # Admit up to `batch` new seqs per call, never past n.
            self._cur = min(self._cur + self.batch, self.n)
            return {"seq": self._cur}

        def partitions(self, start: dict, end: dict):
            # The planner's offsets are authoritative (they come from
            # the checkpoint's offset log): never let the in-memory
            # cursor sit below a range Spark has already planned, and
            # never plan a negative range (end < start can only mean
            # the cursor regressed — emit nothing rather than
            # re-emitting a committed span).
            self._cur = max(self._cur, start["seq"], end["seq"])
            lo, hi = start["seq"], max(end["seq"], start["seq"])
            return [_RangePartition(s, lo, hi) for s in self.symbols]

        def read(self, partition):
            for seq in range(partition.lo, partition.hi):
                yield tick(partition.symbol, seq, self.start_ts,
                           self.interval_s)

        def commit(self, end: dict) -> None:
            # A real source acks upstream here; the generator's only
            # upstream is the optional progress file (atomic
            # write+rename so a kill mid-commit leaves the old value).
            # The persisted value is max-guarded like the in-memory
            # cursor: an out-of-order or replayed commit must never
            # regress the progress file a later restart relies on.
            self._cur = max(self._cur, end["seq"])
            if self.progress_path:
                tmp = f"{self.progress_path}.tmp"
                with open(tmp, "w") as fh:
                    fh.write(str(self._cur))
                os.replace(tmp, self.progress_path)

    class TickStreamDataSource(DataSource):
        @classmethod
        def name(cls):
            return "bdsm_ticks_stream"

        def schema(self):
            return _SCHEMA

        def streamReader(self, schema):
            return _TickStreamReader(self.options)

    return TickStreamDataSource


def q_stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consume the custom STREAMING source to exhaustion (4 rate-limited
    micro-batches × 4 symbol-partitions), then roll up per symbol —
    identical output (and oracle) to the batch-source twin
    `python_datasource_ticks`, so stream and batch read paths of the
    same source certify each other. `sf_dir` is unused: the source
    generates."""
    import uuid

    from pyspark.sql import functions as F

    from ..functions import dsum

    spark.dataSource.register(make_tick_stream_datasource())
    sdf = spark.readStream.format("bdsm_ticks_stream").load()
    name = f"mem_{uuid.uuid4().hex[:12]}"
    q = (sdf.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(processingTime="0 seconds")
         .start())
    # processAllAvailable returns once latestOffset stabilizes at the
    # end of the bounded range (seq == n) and everything is committed.
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    ticks = spark.table(name)
    spark.catalog.dropTempView(name)  # the DataFrame keeps the rows
    return (ticks.groupBy("symbol")
            .agg(F.count("*").alias("n_ticks"),
                 F.min("ts").alias("first_ts"),
                 F.max("ts").alias("last_ts"),
                 (dsum(F.col("price") * F.col("size"))
                  / F.sum("size")).alias("vwap"),
                 F.sum(F.col("seq") * F.col("size")).alias("size_checksum"))
            .orderBy("symbol"))


QUERIES["stream_python_datasource"] = (q_stream_python_datasource, _TICKS_SQL)


# ---------------------------------------------------------------------------
# Custom Python data SINK: task-commit protocol
# ---------------------------------------------------------------------------


def make_tick_sink_datasource():
    """A custom Python data SINK (DataSourceWriter) — the third leg of
    the extensibility triangle (batch source / stream source / sink).
    Each task writes its partition to a uniquely-named JSONL part file
    and returns a WriterCommitMessage naming it; `commit` runs ONCE on
    the driver with every task's message and atomically publishes a
    _MANIFEST listing exactly the committed parts — so readers ignore
    orphan files from failed/speculative task attempts, which is the
    same job-commit contract Spark's FileOutputCommitter v1 gives
    parquet. `abort` removes the orphans. Values round-trip exactly:
    doubles via repr (shortest-round-trip), timestamps as int64
    micros."""
    import json
    import os
    import uuid

    from pyspark.sql.datasource import (DataSource, DataSourceWriter,
                                        WriterCommitMessage)

    class _Msg(WriterCommitMessage):
        def __init__(self, filename: str, n_rows: int):
            self.filename = filename
            self.n_rows = n_rows

    class _TickSinkWriter(DataSourceWriter):
        def __init__(self, options):
            self.path = options["path"]

        def write(self, iterator):
            os.makedirs(self.path, exist_ok=True)
            name = f"part-{uuid.uuid4().hex}.jsonl"
            n = 0
            with open(os.path.join(self.path, name), "w") as fh:
                for row in iterator:
                    # Naive datetimes here are UTC wall time (session
                    # tz is pinned UTC); never datetime.timestamp(),
                    # which would re-interpret them in the WORKER's
                    # system tz.
                    ts = (row.ts if row.ts.tzinfo is not None
                          else row.ts.replace(tzinfo=dt.timezone.utc))
                    fh.write(json.dumps({
                        "symbol": row.symbol, "seq": row.seq,
                        "ts_us": int(ts.timestamp()) * 1_000_000
                        + ts.microsecond,
                        "price": row.price, "size": row.size}) + "\n")
                    n += 1
            return _Msg(name, n)

        def commit(self, messages):
            manifest = {
                "parts": sorted(m.filename for m in messages if m),
                "n_rows": sum(m.n_rows for m in messages if m),
            }
            tmp = os.path.join(self.path, "_MANIFEST.tmp")
            with open(tmp, "w") as fh:
                json.dump(manifest, fh)
            os.replace(tmp, os.path.join(self.path, "_MANIFEST"))

        def abort(self, messages):
            for m in messages:
                if m:
                    try:
                        os.remove(os.path.join(self.path, m.filename))
                    except FileNotFoundError:
                        pass

    class TickSinkDataSource(DataSource):
        @classmethod
        def name(cls):
            return "bdsm_tick_sink"

        def writer(self, schema, overwrite):
            return _TickSinkWriter(self.options)

    return TickSinkDataSource


def q_python_datasource_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through the custom SINK: generate ticks from the
    custom batch source, write them through the task-commit sink (4
    planned splits → 4 part files + manifest), read back ONLY the
    manifest-listed parts, and roll up — same output and oracle as
    `python_datasource_ticks`, so the sink's commit protocol is
    value-verified end-to-end. An orphan part file is planted BEFORE
    the read to prove manifest-driven reads skip uncommitted data.

    Local-path caveat (documented, not hidden): executors write to a
    driver-local tmp dir — correct on local[*]; a cluster points
    `path` at shared storage, the protocol is unchanged."""
    import json
    import os
    import shutil
    import uuid

    from pyspark.sql import functions as F

    from ..functions import dsum

    spark.dataSource.register(make_tick_datasource())
    spark.dataSource.register(make_tick_sink_datasource())
    out_dir = f"/tmp/bdsm_pysink_{uuid.uuid4().hex[:8]}"
    try:
        ticks = (spark.read.format("bdsm_ticks")
                 .option("rows_per_split", _N_PER_SYMBOL)
                 .load())
        (ticks.write.format("bdsm_tick_sink")
         .option("path", out_dir).mode("append").save())

        # An uncommitted orphan (failed-attempt stand-in): the
        # manifest must shield the read from it.
        with open(os.path.join(out_dir, "part-orphan.jsonl"), "w") as fh:
            fh.write(json.dumps({"symbol": "BOGUS", "seq": -1,
                                 "ts_us": 0, "price": 0.0,
                                 "size": 1}) + "\n")

        with open(os.path.join(out_dir, "_MANIFEST")) as fh:
            manifest = json.load(fh)
        paths = [os.path.join(out_dir, p) for p in manifest["parts"]]
        back = (spark.read.schema("symbol STRING, seq BIGINT, ts_us BIGINT,"
                                  " price DOUBLE, size BIGINT")
                .json(paths)
                .withColumn("ts", F.timestamp_micros(F.col("ts_us"))))
        return (back.groupBy("symbol")
                .agg(F.count("*").alias("n_ticks"),
                     F.min("ts").alias("first_ts"),
                     F.max("ts").alias("last_ts"),
                     (dsum(F.col("price") * F.col("size"))
                      / F.sum("size")).alias("vwap"),
                     F.sum(F.col("seq") * F.col("size"))
                     .alias("size_checksum"))
                .orderBy("symbol")
                # Materialize before the finally-block cleanup below.
                .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


QUERIES["python_datasource_sink"] = (q_python_datasource_sink, _TICKS_SQL)


# ---------------------------------------------------------------------------
# Custom Python STREAMING sink: per-batch commit protocol
# ---------------------------------------------------------------------------


def make_tick_stream_sink_datasource():
    """The custom sink's STREAMING form (DataSourceStreamWriter) —
    the fourth corner of the extensibility matrix (batch source /
    stream source / batch sink / stream sink). Identical task-level
    write contract to the batch sink, but `commit` receives the
    micro-batch id and publishes one `_MANIFEST-<batchId>` per batch:
    a restart that replays batch N overwrites N's manifest with the
    identical (deterministic) part list instead of double-counting —
    the same batch-id-anchored exactly-once idea as the MV-merge
    sink (`streaming/batch_parity.q_stream_mv_merge`), expressed at
    the source-API layer where Spark calls it ONCE per batch after
    all tasks succeed."""
    import json
    import os
    import uuid

    from pyspark.sql.datasource import (DataSource, DataSourceStreamWriter,
                                        WriterCommitMessage)

    class _Msg(WriterCommitMessage):
        def __init__(self, filename: str, n_rows: int):
            self.filename = filename
            self.n_rows = n_rows

    class _TickStreamSinkWriter(DataSourceStreamWriter):
        def __init__(self, options):
            self.path = options["path"]

        def write(self, iterator):
            os.makedirs(self.path, exist_ok=True)
            name = f"part-{uuid.uuid4().hex}.jsonl"
            n = 0
            with open(os.path.join(self.path, name), "w") as fh:
                for row in iterator:
                    ts = (row.ts if row.ts.tzinfo is not None
                          else row.ts.replace(tzinfo=dt.timezone.utc))
                    fh.write(json.dumps({
                        "symbol": row.symbol, "seq": row.seq,
                        "ts_us": int(ts.timestamp()) * 1_000_000
                        + ts.microsecond,
                        "price": row.price, "size": row.size}) + "\n")
                    n += 1
            return _Msg(name, n)

        def commit(self, messages, batchId):
            manifest = {
                "batch_id": batchId,
                "parts": sorted(m.filename for m in messages if m),
                "n_rows": sum(m.n_rows for m in messages if m),
            }
            tmp = os.path.join(self.path, f"_MANIFEST-{batchId}.tmp")
            with open(tmp, "w") as fh:
                json.dump(manifest, fh)
            os.replace(tmp, os.path.join(self.path,
                                         f"_MANIFEST-{batchId}"))

        def abort(self, messages, batchId):
            for m in messages:
                if m:
                    try:
                        os.remove(os.path.join(self.path, m.filename))
                    except FileNotFoundError:
                        pass

    class TickStreamSinkDataSource(DataSource):
        @classmethod
        def name(cls):
            return "bdsm_tick_stream_sink"

        def streamWriter(self, schema, overwrite):
            return _TickStreamSinkWriter(self.options)

    return TickStreamSinkDataSource


def q_stream_python_datasource_sink(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """End-to-end custom STREAM → custom STREAM SINK: the
    offset-managed tick stream (4 rate-limited micro-batches) writes
    through the per-batch-manifest sink; the read-back unions exactly
    the parts listed by the committed `_MANIFEST-<batchId>` files
    (an orphan part is planted to prove uncommitted data is ignored)
    and rolls up per symbol — the same output and oracle as the
    batch-source twin, so all four extensibility corners certify each
    other against ONE regenerating oracle. `sf_dir` unused."""
    import glob
    import json
    import os
    import shutil
    import uuid as _uuid

    from pyspark.sql import functions as F

    from ..functions import dsum

    spark.dataSource.register(make_tick_stream_datasource())
    spark.dataSource.register(make_tick_stream_sink_datasource())
    out_dir = f"/tmp/bdsm_pystreamsink_{_uuid.uuid4().hex[:8]}"
    try:
        sdf = spark.readStream.format("bdsm_ticks_stream").load()
        q = (sdf.writeStream.format("bdsm_tick_stream_sink")
             .option("path", out_dir)
             .option("checkpointLocation", f"{out_dir}/_ckpt")
             .outputMode("append").trigger(processingTime="0 seconds")
             .start())
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

        with open(os.path.join(out_dir, "part-orphan.jsonl"), "w") as fh:
            fh.write(json.dumps({"symbol": "BOGUS", "seq": -1,
                                 "ts_us": 0, "price": 0.0,
                                 "size": 1}) + "\n")

        paths = []
        n_batches = 0
        for mpath in sorted(glob.glob(os.path.join(out_dir,
                                                   "_MANIFEST-*"))):
            with open(mpath) as fh:
                manifest = json.load(fh)
            n_batches += 1
            paths += [os.path.join(out_dir, p)
                      for p in manifest["parts"]]
        assert n_batches >= 2, (
            f"expected multiple micro-batch manifests, got {n_batches}")
        back = (spark.read.schema("symbol STRING, seq BIGINT,"
                                  " ts_us BIGINT, price DOUBLE,"
                                  " size BIGINT")
                .json(paths)
                .withColumn("ts", F.timestamp_micros(F.col("ts_us"))))
        return (back.groupBy("symbol")
                .agg(F.count("*").alias("n_ticks"),
                     F.min("ts").alias("first_ts"),
                     F.max("ts").alias("last_ts"),
                     (dsum(F.col("price") * F.col("size"))
                      / F.sum("size")).alias("vwap"),
                     F.sum(F.col("seq") * F.col("size"))
                     .alias("size_checksum"))
                .orderBy("symbol")
                .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


QUERIES["stream_python_datasource_sink"] = (
    q_stream_python_datasource_sink, _TICKS_SQL)
