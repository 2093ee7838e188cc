"""The open-loop streaming workload.

One generator thread writes seeded tick files into the source directory
on a fixed schedule, whether or not the engine keeps up. Three
streaming queries read that directory:

* ticks -> ``streaming.upsert`` last-writer-wins keyed merge (the
  reference's Postgres sink), through ``foreachBatch``;
* ticks -> ``stream_ohlc_bars(..., "1 minute")`` (watermarked) ->
  ``signal_over_bars`` (the Flink CASE), complete mode;
* ticks -> ``streaming.state.ema_per_key`` (the per-key indicator loop).

Phase 1 (backfill): a seeded history backlog is in place before the
queries start; it is drained when every query has processed all of it.
Phase 2 (live): ``LIVE_RATE`` events/s in files every ``PERIOD_S`` s,
``WARMUP_S`` s unmeasured and then ``--seconds`` s measured; the queries
trigger every ``TRIGGER_S`` s. Freshness is measured per live event and
pipeline, from the event's creation at the generator to the end of the
micro-batch that wrote it to that pipeline's sink.
"""

from __future__ import annotations

import datetime
import glob
import json
import math
import os
import statistics
import threading
import time
import traceback

import pyarrow.parquet as pq

import gen
from oracle import Oracle, minute_bars
from run import percentile

N_USERS = 100
#: The backlog sets the upsert target's size, which every live upsert
#: micro-batch rewrites whole; 10k rows keep that rewrite well inside a
#: period on 4 loaded cores.
BACKLOG_FILES, BACKLOG_PER_FILE, BACKLOG_PERIOD_S = 20, 500, 30
LIVE_RATE = 400  # events per second, well below the engine's capacity
PERIOD_S = 0.5
#: Every query triggers on this fixed interval, as a deployed stream
#: does. Back-to-back triggers settle, run by run, on batches of three to
#: five files, and freshness follows whichever size a run settled on.
#: Spark fires interval triggers at multiples of the interval since the
#: epoch; the generator's schedule keeps its files ``PHASE_S`` clear of
#: those instants, so every run sees the same file-to-batch pattern.
TRIGGER_S, PHASE_S = 2.5, 0.25
#: Live input before the measured window, four triggers: the first live
#: micro-batches run slow (the upsert's first one about twice as long as
#: a steady one).
WARMUP_S = 10.0


class _UpsertSink:
    """foreachBatch body: the library's keyed upsert; traced, it also
    records the target's row count after each micro-batch, and the time
    that count took, the only tracing work inside a micro-batch."""

    def __init__(self, spark, target: str, traced: bool) -> None:
        from big_data_share_market_spark.sources.connectors import upsert_batch_fn
        from big_data_share_market_spark.streaming import upsert
        self._inner = upsert_batch_fn(
            upsert.KEYS, upsert._merge_write(spark, target),
            order_col=upsert.ORDER_COL)
        self._target = target
        self._traced = traced
        self.target_rows: dict[int, int] = {}
        self.count_s: dict[int, float] = {}

    def __call__(self, batch, batch_id: int) -> None:
        self._inner(batch, batch_id)
        if self._traced:
            t0 = time.perf_counter()
            self.target_rows[batch_id] = _parquet_rows(self._target)
            self.count_s[batch_id] = time.perf_counter() - t0


def _parquet_rows(path: str) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in glob.glob(os.path.join(path, "*.parquet")))


def _file_batches(checkpoint: str) -> dict[str, int]:
    """Source file name -> micro-batch id, from the file source's log."""
    out = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        with open(path) as fh:
            for line in fh:
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def _progress(query) -> list[dict]:
    return [json.loads(p.json()) for p in query._jsq.recentProgress()]


def _await_files(queries: dict, ckpt: str, names: list[str],
                 timeout: float) -> None:
    """Wait until every query has reported the micro-batches that read
    the source files `names`. processAllAvailable would also wait, per
    query and one after another, for a later trigger that finds no new
    data: up to a trigger interval each, at moments the trigger grid
    sets."""
    deadline = time.monotonic() + timeout
    pending = dict(queries)
    while pending:
        for k, q in list(pending.items()):
            if not q.isActive:
                raise RuntimeError(f"stream {k} stopped: {q.exception()}")
            batches = _file_batches(os.path.join(ckpt, k))
            if all(n in batches for n in names):
                done = {p["batchId"] for p in _progress(q)}
                if all(batches[n] in done for n in names):
                    del pending[k]
        if pending:
            if time.monotonic() > deadline:
                raise TimeoutError(f"streams {sorted(pending)} did not "
                                   f"process their input in {timeout} s")
            time.sleep(0.1)


def _batch_end(progress: dict) -> float:
    """Wall time (epoch seconds) at which a micro-batch's trigger ended."""
    start = datetime.datetime.strptime(progress["timestamp"],
                                       "%Y-%m-%dT%H:%M:%S.%fZ")
    return (start.replace(tzinfo=datetime.timezone.utc).timestamp()
            + progress["durationMs"]["triggerExecution"] / 1e3)


class _Generator(threading.Thread):
    """Writes one file per period at its due time; never waits for the
    engine. Records, per file, when it was due and when it landed."""

    def __init__(self, source, src_dir: str, warmup: int, periods: int) -> None:
        super().__init__(daemon=True)
        self._source, self._src = source, src_dir
        self._warmup, self._periods = warmup, warmup + periods
        self.files: list[dict] = []
        self.error: str | None = None

    def run(self) -> None:
        try:
            start = math.ceil(time.time() / TRIGGER_S) * TRIGGER_S + PHASE_S
            for k in range(self._periods + 1):
                due = start + (k + 1) * PERIOD_S
                time.sleep(max(0.0, due - time.time()))
                t0 = int((start + k * PERIOD_S) * 1e6)
                table, created = self._source.batch(
                    t0, t0 + int(PERIOD_S * 1e6), int(LIVE_RATE * PERIOD_S),
                    last=k == self._periods)
                name = f"live-{k:05d}.parquet"
                gen.write_atomic(table, self._src, name)
                self.files.append({"name": name, "due": due,
                                   "written": time.time(),
                                   "created": created,
                                   "measured": k >= self._warmup})
        except Exception:
            self.error = traceback.format_exc(limit=3)


def run(run) -> None:
    from probe import Tracer
    tracer = run.tracer = Tracer() if run.traced else None
    src = os.path.join(run.work, "ticks")
    ckpt = os.path.join(run.work, "checkpoints")
    target = os.path.join(run.work, "upsert_target")
    tiny = run.tiny
    source = gen.TickSource(run.seed, N_USERS // 5 if tiny else N_USERS)
    backlog, backlog_rows = gen.write_backlog(
        source, src, BACKLOG_FILES // 5 if tiny else BACKLOG_FILES,
        BACKLOG_PER_FILE, BACKLOG_PERIOD_S * 1_000_000)
    run.info["input_hash"] = gen.file_digest(backlog)

    periods = max(1, int(run.seconds / PERIOD_S))
    t0 = time.perf_counter()
    from big_data_share_market_spark.streaming.pipeline import (
        EVENTS_DDL, signal_over_bars, stream_ohlc_bars)
    from big_data_share_market_spark.streaming.state import ema_per_key
    spark = run.start_spark()
    t_session = time.perf_counter()
    # Freshness looks up the micro-batch of every file in recentProgress;
    # keep all of them however long the run (Spark keeps 100 by default).
    n_files = len(backlog) + int(WARMUP_S / PERIOD_S) + periods + 1
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
                   str(4 * n_files + 100))
    ticks = spark.readStream.schema(EVENTS_DDL).format("parquet").load(src)
    sink = _UpsertSink(spark, target, run.traced)
    tag = f"perfbench_{os.getpid()}"
    trigger = f"{int(TRIGGER_S * 1000)} milliseconds"
    t_stream, t_stream_wall = time.perf_counter(), time.time()
    queries = {
        "upsert": ticks.writeStream.foreachBatch(sink)
        .trigger(processingTime=trigger)
        .option("checkpointLocation", os.path.join(ckpt, "upsert")).start(),
        "bars": signal_over_bars(stream_ohlc_bars(ticks, "1 minute"))
        .writeStream.format("memory").queryName(f"{tag}_bars")
        .outputMode("complete").trigger(processingTime=trigger)
        .option("checkpointLocation", os.path.join(ckpt, "bars")).start(),
        "ema": ema_per_key(ticks).writeStream.format("memory")
        .queryName(f"{tag}_ema").outputMode("append")
        .trigger(processingTime=trigger)
        .option("checkpointLocation", os.path.join(ckpt, "ema")).start(),
    }
    run.metrics["setup_s"] = time.perf_counter() - t0
    run.metrics["session.start_s"] = t_session - t0
    try:
        _await_files(queries, ckpt, [os.path.basename(p) for p in backlog],
                     timeout=150)
        # The backlog is drained when the last query's last batch with
        # its rows ends, a moment the poll above sees only to 0.1 s.
        backfill_s = max(_batch_end(p) for q in queries.values()
                         for p in _progress(q)
                         if p["numInputRows"] > 0) - t_stream_wall
        run.metrics["cold.first_result_s"] = backfill_s

        generator = _Generator(source, src, int(WARMUP_S / PERIOD_S), periods)
        generator.start()
        generator.join(timeout=WARMUP_S + run.seconds + 60)
        t_gen_end = time.time()
        _await_files(queries, ckpt, [f["name"] for f in generator.files],
                     timeout=60)
        progress = {k: _progress(q) for k, q in queries.items()}
        run.metrics["heap_live_mb"] = run.heap_live_mb()
        if run.traced:
            _stream_exec_stats(run, queries)
    finally:
        for q in queries.values():
            q.stop()
    if generator.error:
        raise RuntimeError(f"tick generator failed:\n{generator.error}")
    if tracer is not None:
        _spans(tracer, t0, t_session, t_stream, backfill_s, generator)

    live_rows = sum(len(f["created"]) for f in generator.files)
    run.attempted += 3 * (backlog_rows + live_rows)

    # Freshness per measured live event and pipeline: creation -> the
    # end of the micro-batch that wrote it to that pipeline's sink.
    fresh, lag, live, ends = [], [], {}, {}
    for k in queries:
        file_batch = _file_batches(os.path.join(ckpt, k))
        by_id = {p["batchId"]: p for p in progress[k] if p["numInputRows"] > 0}
        live[k] = {file_batch[f["name"]] for f in generator.files
                   if f["measured"]}
        for f in generator.files:
            end = _batch_end(by_id[file_batch[f["name"]]])
            ends.setdefault(f["name"], []).append(end)
            if f["measured"]:
                fresh.extend(end - f["created"] / 1e6)
    for f in generator.files:
        f["commit"] = max(ends[f["name"]])  # in every sink
        lag.append(f["written"] - f["due"])
        if f["written"] - f["due"] > PERIOD_S:  # the generator fell behind
            run.failed += len(f["created"])
    live_batches = [p for p in progress["upsert"]
                    if p["batchId"] in live["upsert"] and p["numInputRows"] > 0]
    run.metrics["latency_p50_s"] = percentile(fresh, 50)
    run.metrics["latency_p90_s"] = percentile(fresh, 90)
    run.metrics["cycle_s"] = statistics.median(
        p["durationMs"]["triggerExecution"] / 1e3
        for k in queries for p in progress[k]
        if p["batchId"] in live[k] and p["numInputRows"] > 0)
    run.metrics["generator.lag_s"] = max(lag)
    run.metrics["stream.backlog_files_max"] = max(
        sum(1 for g in generator.files
            if g["written"] <= f["written"] < g["commit"])
        for f in generator.files)
    run.metrics["stream.backlog_files_end"] = sum(
        1 for g in generator.files if g["written"] <= t_gen_end < g["commit"])
    run.info.update({
        "live_rate_eps": LIVE_RATE, "period_s": PERIOD_S,
        "warmup_s": WARMUP_S,
        "backlog_events": backlog_rows, "live_events": live_rows,
        "first_result_s": backfill_s,
        "backfill_eps": backlog_rows / backfill_s,
        "latency_n": len(fresh), "live_batches": len(live_batches),
        "generator_lag_s": max(lag),
        "batch_s": {k: [(p["batchId"], p["numInputRows"],
                         p["durationMs"]["triggerExecution"] / 1e3)
                        for p in ps] for k, ps in progress.items()},
    })
    if run.traced:
        _stream_layers(run, progress, sink, target, live_batches)
        tracer.dump(os.path.join(
            os.path.dirname(os.path.dirname(run.work)), ".perfbench_out",
            f"trace-{run.workload}-seed{run.seed}-{tracer.run_id}.json"))
    _gate(run, spark, src, target, tag)


def _spans(tracer, t0, t_session, t_stream, backfill_s, generator) -> None:
    """Phase spans, recorded from the timestamps the run already took."""
    spans = tracer.spans
    files = generator.files
    live0 = files[0]["due"] - PERIOD_S if files else 0.0
    live1 = files[-1]["written"] if files else 0.0
    offset = time.perf_counter() - time.time()
    for name, start, end in (
            ("setup", t0, t_stream), ("session", t0, t_session),
            ("backfill", t_stream, t_stream + backfill_s),
            ("live", live0 + offset, live1 + offset)):
        spans.append({"run": tracer.run_id, "id": len(spans), "name": name,
                      "parent": 0 if name == "session" else None,
                      "start": start, "end": end,
                      "counts": {"files": len(files)} if name == "live" else {}})


def _median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


def _stream_layers(run, progress, sink, target, live_batches) -> None:
    data = [p for ps in progress.values() for p in ps if p["numInputRows"] > 0]

    def dur(p, *keys):
        return sum(p["durationMs"].get(k, 0) for k in keys) / 1e3

    m = run.metrics
    m["stream.batches"] = len(data)
    m["stream.batch_s"] = _median(dur(p, "triggerExecution") for p in data)
    m["stream.add_batch_s"] = _median(dur(p, "addBatch") for p in data)
    m["stream.plan_s"] = _median(dur(p, "queryPlanning") for p in data)
    m["stream.offsets_s"] = _median(
        dur(p, "latestOffset", "getBatch", "walCommit") for p in data)
    m["stream.commit_s"] = _median(dur(p, "commitOffsets") for p in data)
    m["stream.processed_eps"] = _median(
        p["processedRowsPerSecond"] for p in progress["upsert"]
        if p["numInputRows"] > 0)
    last = [ps[-1] for ps in progress.values() if ps]
    ops = [op for p in last for op in p.get("stateOperators", [])]
    m["stream.state_rows"] = sum(op["numRowsTotal"] for op in ops)
    m["stream.state_bytes"] = sum(op["memoryUsedBytes"] for op in ops)
    m["stream.state_commit_s"] = _median(
        sum(op["commitTimeMs"] for op in p["stateOperators"]) / 1e3
        for p in data if p.get("stateOperators"))
    m["stream.late_dropped"] = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for ps in progress.values() for p in ps
        for op in p.get("stateOperators", []))
    m["upsert.target_rows"] = _parquet_rows(target)
    m["upsert.rewrite_ratio"] = _median(
        sink.target_rows[p["batchId"]] / p["numInputRows"]
        for p in live_batches if p["batchId"] in sink.target_rows)
    # Tracing overhead: the traced sink's row count, per live batch.
    m["traced.overhead_s"] = _median(
        sink.count_s[p["batchId"]] for p in live_batches
        if p["batchId"] in sink.count_s)


def _stream_exec_stats(run, queries) -> None:
    """Execution totals of every micro-batch job; Spark runs them under
    the query's run id as job group."""
    from probe import drain_listener, group_stats
    drain_listener(run.spark)
    totals: dict[str, float] = {"task_skew": 1.0}
    for q in queries.values():
        for key, val in group_stats(run.spark, str(q.runId)).items():
            totals[key] = (max(totals[key], val) if key == "task_skew"
                           else totals.get(key, 0) + val)
    m = run.metrics
    for key in ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
                "failed_tasks", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes", "task_skew"):
        m[f"exec.{key}"] = totals.get(key, 0)
    m["exec.offcpu_s"] = max(0.0, totals.get("run_s", 0) - totals.get("cpu_s", 0))
    m["tables.scan_bytes"] = totals.get("scan_bytes", 0)
    m["tables.scan_rows"] = totals.get("scan_rows", 0)


def _gate(run, spark, src: str, target: str, tag: str) -> None:
    """Untimed: the upsert target, bars+signal and EMA against the
    registry's stream oracles over every tick file written."""
    from pyspark.sql import functions as F

    from big_data_share_market_spark.registry import all_queries
    registry = all_queries()
    out = os.path.join(run.work, "out")
    spark.table(f"{tag}_bars").write.parquet(os.path.join(out, "bars"))
    (spark.table(f"{tag}_ema").select(
        "user_id", "event_id", "ts", "close",
        F.nanvl("ema_5", F.lit(None).cast("double")).alias("ema_5"),
        F.nanvl("ema_15", F.lit(None).cast("double")).alias("ema_15"))
     .write.parquet(os.path.join(out, "ema")))
    for name in ("bars", "ema"):
        spark.catalog.dropTempView(f"{tag}_{name}")
    checks = {
        "upsert": (target, registry["stream_upsert_idempotent"][1]),
        "bars": (os.path.join(out, "bars"),
                 minute_bars(registry["stream_signal_bars"][1])),
        "ema": (os.path.join(out, "ema"), registry["stream_ema_per_key"][1]),
    }
    oracle = Oracle({"events": os.path.join(src, "*.parquet")})
    mismatches = {}
    try:
        for name, (got, sql) in checks.items():
            bad, why = oracle.mismatches(got, sql)
            if bad:
                run.failed += bad
                mismatches[name] = why
    finally:
        oracle.close()
    run.info["oracle_mismatches"] = mismatches
