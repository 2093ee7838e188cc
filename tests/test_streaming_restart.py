"""Streaming restart / exactly-once proofs (r6 verdict item 3).

The reference's whole late-data story (`flink_processor/
flink_processor.py:89`, `postgres/init.sql:12`) is at-least-once
delivery made safe by the sink; the one thing r1-r6 asserted but never
demonstrated was survival of a PROCESS RESTART: kill a live query
mid-replay, resume from the checkpoint, and get the same answer as an
uninterrupted run. These tests do exactly that, for both sink
families:

* the MV merge sink (NOT replay-idempotent by nature — exactly-once
  must come from anchoring on the checkpointed batch id), killed at
  BOTH crash points: after the generation committed but before the
  checkpoint offset commit (the replayed batch must be skipped), and
  mid-write before the commit marker (the replay must re-apply);
* the last-write-wins upsert sink (replay-idempotent by design —
  re-applying a batch must be a no-op on the final table).

Multi-batch replay comes from staging the fixture as several files
and maxFilesPerTrigger=1; crashes are injected by a foreachBatch
wrapper that raises, failing the query exactly like an executor/
driver loss would, WITHOUT committing the in-flight batch.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pandas as pd
import pytest

from pyspark.sql import functions as F

from big_data_share_market_spark.streaming.batch_parity import (
    _MV_SEED, mv_committed_gens, mv_final_frame, mv_merge_foreach,
    mv_partial)
from big_data_share_market_spark.tables import load_table

from .conftest import SF_DIR

_ORDERS_DDL = ("o_orderkey long, o_custkey long, o_orderstatus string, "
               "o_totalprice double, o_orderdate timestamp, "
               "o_orderpriority string")

_EVENTS_DDL = ("event_id long, ts timestamp, user_id long, "
               "event_type string, value double, props string")


@pytest.fixture()
def scratch():
    root = f"/tmp/bdsm_restart_{uuid.uuid4().hex[:8]}"
    os.makedirs(root)
    yield root
    shutil.rmtree(root, ignore_errors=True)


def _stage_multifile(spark, df, path: str, n_files: int) -> None:
    """Write a fixture slice as n_files parquet files so availableNow
    + maxFilesPerTrigger=1 replays it as n_files micro-batches."""
    df.repartition(n_files).write.parquet(path)


def _stream(spark, path: str, ddl: str):
    return (spark.readStream.schema(ddl)
            .option("maxFilesPerTrigger", 1)
            .format("parquet").load(path))


class _InjectedCrash(RuntimeError):
    pass


def _run_to_crash(sdf, foreach, ckpt: str) -> None:
    """Start the stream, expect the injected crash to fail it."""
    from pyspark.errors.exceptions.captured import StreamingQueryException
    q = (sdf.writeStream.foreachBatch(foreach)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()


def _run_to_end(sdf, foreach, ckpt: str) -> None:
    q = (sdf.writeStream.foreachBatch(foreach)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()


def _run_noop(sdf, ckpt: str):
    """Run the stream to the end into the no-op sink; return the query."""
    q = (sdf.writeStream.format("noop")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return q


def _append_to(path: str):
    """foreachBatch body that appends each micro-batch to `path`."""
    def fn(batch_df, batch_id):
        batch_df.write.mode("append").parquet(path)
    return fn


def _mv_rows(spark, root):
    return [tuple(r) for r in mv_final_frame(spark, root).collect()]


def _mv_expected(spark, src_path: str, seed_df):
    """Uninterrupted-equivalent: one-pass aggregate over seed ∪ delta."""
    delta = spark.read.parquet(src_path)
    full = seed_df.select(*delta.columns).unionByName(delta)
    return [tuple(r) for r in
            (full.groupBy("o_custkey")
             .agg(F.count("*").alias("n_orders"),
                  F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
                  .cast("double").alias("total_spend"),
                  F.min("o_orderdate").alias("first_order"),
                  F.max("o_orderdate").alias("last_order"))
             .orderBy("o_custkey")).collect()]


def _mv_setup(spark, scratch):
    """Seeded MV root + 4-file delta source over the sf0.001 orders."""
    orders = load_table(spark, SF_DIR, "orders")
    seed = orders.filter(F.col("o_orderkey") % 10 < 8)
    delta = orders.filter(F.col("o_orderkey") % 10 >= 8)
    src = f"{scratch}/delta_src"
    _stage_multifile(spark, delta, src, 4)
    root = f"{scratch}/mv"
    os.makedirs(root)
    mv_partial(seed).write.parquet(f"{root}/{_MV_SEED}")
    return root, src, seed


def test_mv_merge_restart_after_commit_marker(spark, scratch):
    """Worst-case crash point: the generation is fully committed
    (_SUCCESS written) but the checkpoint offset is NOT — Spark
    replays the batch on restart, and a sink without batch-id
    anchoring would double-apply the aggregate. The resumed MV must
    equal the one-pass aggregate, and the replayed batch must leave
    exactly one generation behind."""
    root, src, seed = _mv_setup(spark, scratch)
    inner = mv_merge_foreach(spark, root)
    calls = {"n": 0}

    def crash_after_write(batch_df, batch_id):
        inner(batch_df, batch_id)  # generation committed
        calls["n"] += 1
        if calls["n"] == 2:
            raise _InjectedCrash("crash AFTER commit marker, BEFORE "
                                 "checkpoint offset commit")

    ckpt = f"{scratch}/ckpt"
    _run_to_crash(_stream(spark, src, _ORDERS_DDL), crash_after_write, ckpt)
    applied_at_crash = len(mv_committed_gens(root)) - 1  # minus seed
    assert applied_at_crash == 2  # both batches' generations committed

    # Resume from the same checkpoint with the plain (uninjected) sink.
    _run_to_end(_stream(spark, src, _ORDERS_DDL),
                mv_merge_foreach(spark, root), ckpt)
    gens = mv_committed_gens(root)
    assert len(gens) - 1 == 4, gens  # one generation per batch, no dup
    assert _mv_rows(spark, root) == _mv_expected(spark, src, seed)


def test_mv_merge_restart_mid_write(spark, scratch):
    """Crash BEFORE the commit marker: the batch effectively never
    applied (a partial generation dir without _SUCCESS is invisible
    to mv_committed_gens and overwritten) — the replay must apply it
    exactly once."""
    root, src, seed = _mv_setup(spark, scratch)
    inner = mv_merge_foreach(spark, root)
    calls = {"n": 0}

    def crash_before_write(batch_df, batch_id):
        calls["n"] += 1
        if calls["n"] == 3:
            # Simulate dying mid-write: leave a partial dir with a
            # stray data file but no _SUCCESS, then fail the batch.
            dest = f"{root}/gen_b{batch_id}"
            os.makedirs(dest, exist_ok=True)
            with open(f"{dest}/part-garbage.parquet", "wb") as fh:
                fh.write(b"not parquet")
            raise _InjectedCrash("crash mid-write, no commit marker")
        inner(batch_df, batch_id)

    ckpt = f"{scratch}/ckpt"
    _run_to_crash(_stream(spark, src, _ORDERS_DDL), crash_before_write, ckpt)
    assert len(mv_committed_gens(root)) - 1 == 2  # 2 applied, 3rd died

    _run_to_end(_stream(spark, src, _ORDERS_DDL),
                mv_merge_foreach(spark, root), ckpt)
    assert len(mv_committed_gens(root)) - 1 == 4
    assert _mv_rows(spark, root) == _mv_expected(spark, src, seed)


def test_upsert_restart_replays_idempotently(spark, scratch):
    """The last-write-wins upsert sink is the OTHER exactly-once
    strategy: replays are harmless because re-merging the same keyed
    rows is a no-op. Kill the stream after a batch's target rewrite
    but before its checkpoint commit; the resumed run re-applies that
    batch and the final table must equal the single-pass batch dedup."""
    from big_data_share_market_spark.sources.connectors import (
        upsert_batch_fn)
    from big_data_share_market_spark.streaming.upsert import (
        KEYS, ORDER_COL, _merge_write)

    events = load_table(spark, SF_DIR, "events")
    src = f"{scratch}/events_src"
    _stage_multifile(spark, events, src, 3)
    target = f"{scratch}/target"

    inner = upsert_batch_fn(KEYS, _merge_write(spark, target),
                            order_col=ORDER_COL)
    calls = {"n": 0}

    def crash_after_apply(batch_df, batch_id):
        inner(batch_df, batch_id)  # target rewritten for this batch
        calls["n"] += 1
        if calls["n"] == 2:
            raise _InjectedCrash("crash after target rewrite, before "
                                 "checkpoint commit")

    ckpt = f"{scratch}/ckpt"
    _run_to_crash(_stream(spark, src, _EVENTS_DDL), crash_after_apply, ckpt)
    _run_to_end(_stream(spark, src, _EVENTS_DDL), inner, ckpt)

    got = [tuple(r) for r in
           (spark.read.parquet(target)
            .select("event_id", "ts", "user_id", "event_type", "value",
                    "props")
            .orderBy("user_id", "ts", "event_id")).collect()]
    from pyspark.sql import Window as W
    w = W.partitionBy(*KEYS).orderBy(F.desc(ORDER_COL))
    want = [tuple(r) for r in
            (events.withColumn("_rn", F.row_number().over(w))
             .filter("_rn = 1")
             .select("event_id", "ts", "user_id", "event_type", "value",
                     "props")
             .orderBy("user_id", "ts", "event_id")).collect()]
    assert got == want and len(got) > 0


def test_upsert_reads_its_own_target_without_inference(spark, scratch):
    """After its first write the merge reads its target with the schema
    it wrote. Merging one batch into two copies of the same target, the
    closure that wrote the target runs exactly one Spark job fewer (the
    schema inference) than a fresh closure, and both leave the same
    rows and schema."""
    from big_data_share_market_spark.streaming.upsert import _merge_write

    events = load_table(spark, SF_DIR, "events")
    warm_dir, cold_dir = f"{scratch}/warm", f"{scratch}/cold"
    warm = _merge_write(spark, warm_dir)
    warm(events.filter(F.col("user_id") % 2 == 0))
    shutil.copytree(warm_dir, cold_dir)
    cold = _merge_write(spark, cold_dir)
    batch = events.filter(F.col("user_id") % 3 == 0)

    sc = spark.sparkContext

    def jobs(write, group):
        sc.setJobGroup(group, group)
        try:
            write(batch)
        finally:
            sc._jsc.clearJobGroup()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs(cold, "upsert-cold") - jobs(warm, "upsert-warm") == 1
    got_warm, got_cold = (spark.read.parquet(d) for d in (warm_dir, cold_dir))
    assert got_warm.schema == got_cold.schema
    assert (sorted(map(tuple, got_warm.collect()))
            == sorted(map(tuple, got_cold.collect())))
    assert got_warm.count() > 0


def test_upsert_rejects_a_target_with_other_columns(spark, scratch):
    """A target this closure never wrote is read with inference: one
    with other columns fails the merge instead of reading as NULLs."""
    from pyspark.errors import AnalysisException

    from big_data_share_market_spark.streaming.upsert import _merge_write

    target = f"{scratch}/target"
    spark.range(3).toDF("x").write.parquet(target)
    write = _merge_write(spark, target)
    with pytest.raises(AnalysisException):
        write(load_table(spark, SF_DIR, "events"))


def test_cusum_state_survives_restart(spark, scratch):
    """The STATEFUL-OPERATOR restart proof (the two above cover the
    sink families): kill a live CUSUM drift query mid-replay, resume
    from the checkpoint, and the concatenated output must equal the
    uninterrupted run's — i.e. the checkpointed (i, mean, S+, S-)
    state continues the recursion exactly where the crash left it,
    and the replayed batch recomputes from the last COMMITTED state
    snapshot, producing bit-identical rows (full-row distinct
    collapses them; a diverged replay would survive the distinct and
    fail the compare)."""
    from big_data_share_market_spark.streaming.state import cusum_per_key

    events = load_table(spark, SF_DIR, "events")
    src = f"{scratch}/events_src"
    _stage_multifile(spark, events, src, 3)
    cols = ["user_id", "event_id", "ts", "value",
            "run_mean", "s_pos", "s_neg", "drift"]

    # Uninterrupted reference run.
    ref_out = f"{scratch}/ref_out"
    _run_to_end(cusum_per_key(_stream(spark, src, _EVENTS_DDL)),
                _append_to(ref_out), f"{scratch}/ref_ckpt")

    # Crash-injected run: batch 2's output lands but its checkpoint
    # offset (and state snapshot) never commits -> replayed on resume.
    out = f"{scratch}/out"
    inner, calls = _append_to(out), {"n": 0}

    def crash_after_write(batch_df, batch_id):
        inner(batch_df, batch_id)
        calls["n"] += 1
        if calls["n"] == 2:
            raise _InjectedCrash("crash after output write, before "
                                 "state/offset checkpoint commit")

    ckpt = f"{scratch}/ckpt"
    _run_to_crash(cusum_per_key(_stream(spark, src, _EVENTS_DDL)),
                  crash_after_write, ckpt)
    _run_to_end(cusum_per_key(_stream(spark, src, _EVENTS_DDL)),
                _append_to(out), ckpt)

    got = [tuple(r) for r in (spark.read.parquet(out)
                              .select(*cols).distinct()
                              .orderBy("user_id", "event_id")).collect()]
    want = [tuple(r) for r in (spark.read.parquet(ref_out)
                               .select(*cols)
                               .orderBy("user_id", "event_id")).collect()]
    assert got == want and len(got) > 0


def _state_by_key(spark, ckpt: str) -> dict:
    """Each key's state in a keyed machine's checkpoint, read back with
    Spark's state data source out of the state buckets (repr, so NaN
    compares equal and doubles compare exactly)."""
    rows = (spark.read.format("statestore").load(ckpt)
            .select("value.groupState.*").collect())
    return {k: repr(s) for r in rows for k, s in zip(r.keys, r.states)}


def test_ema_state_survives_restart_with_keys_missing(spark, scratch):
    """Two availableNow runs of the EMA over one checkpoint, the second
    over a later slice that lacks a third of the keys, must emit
    exactly what one uninterrupted run emits, and leave the same state.
    The keys missing from the second run share state buckets with keys
    that update, and must keep their state untouched."""
    from big_data_share_market_spark.streaming.state import ema_per_key

    events = load_table(spark, SF_DIR, "events")
    lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
    cut = lo + (hi - lo) / 2
    missing = F.col("user_id") % 3 == 0
    src = f"{scratch}/events_src"
    events.filter(F.col("ts") < cut).write.parquet(src)

    out, ckpt = f"{scratch}/out", f"{scratch}/ckpt"
    _run_to_end(ema_per_key(_stream(spark, src, _EVENTS_DDL)),
                _append_to(out), ckpt)
    first = _state_by_key(spark, ckpt)
    (events.filter((F.col("ts") >= cut) & ~missing)
     .write.mode("append").parquet(src))
    _run_to_end(ema_per_key(_stream(spark, src, _EVENTS_DDL)),
                _append_to(out), ckpt)
    second = _state_by_key(spark, ckpt)

    ref_out, ref_ckpt = f"{scratch}/ref_out", f"{scratch}/ref_ckpt"
    _run_to_end(ema_per_key(spark.readStream.schema(_EVENTS_DDL)
                            .parquet(src)), _append_to(ref_out), ref_ckpt)

    def rows(path):
        return (spark.read.parquet(path)
                .orderBy("user_id", "ts", "event_id").toPandas())

    got = rows(out)
    assert len(got) == spark.read.parquet(src).count()
    pd.testing.assert_frame_equal(got, rows(ref_out), check_exact=True)
    assert second == _state_by_key(spark, ref_ckpt)
    kept = {k for k in first if k % 3 == 0}
    assert kept and {k: second[k] for k in kept} == {
        k: first[k] for k in kept}
    assert all(second[k] != first[k] for k in set(first) - kept)


def test_ema_state_is_one_row_per_bucket(spark, scratch):
    """The EMA's state store holds one row per state bucket, not one
    per key: 100 keys leave at most `_STATE_BUCKETS` state rows, and
    those rows carry every key's state."""
    from big_data_share_market_spark.streaming.state import (
        _STATE_BUCKETS, ema_per_key)

    src, ckpt = f"{scratch}/ticks", f"{scratch}/ckpt"
    (spark.range(1000)
     .selectExpr("id AS event_id", "timestamp_seconds(1700000000 + id) AS ts",
                 "id % 100 AS user_id", "'view' AS event_type",
                 "CAST(id % 37 AS DOUBLE) AS value", "'' AS props")
     .write.parquet(src))
    q = _run_noop(ema_per_key(_stream(spark, src, _EVENTS_DDL)), ckpt)
    assert 1 <= q.lastProgress["stateOperators"][0]["numRowsTotal"] \
        <= _STATE_BUCKETS
    assert sorted(_state_by_key(spark, ckpt)) == list(range(100))


def test_ema_refuses_a_per_key_checkpoint(spark, scratch):
    """A checkpoint written by a per-key grouping (state keyed on
    `user_id`, one row per key) is refused by Spark's state-schema
    check when the bucketed EMA resumes it, rather than read as
    bucket state."""
    from pyspark.errors.exceptions.captured import StreamingQueryException
    from pyspark.sql.streaming.state import GroupStateTimeout

    from big_data_share_market_spark.streaming.state import (
        EMA_OUTPUT_DDL, EMA_STATE_DDL, ema_per_key)

    def per_key(key, pdf_iter, state):
        state.update(([0.0, 0.0], [False, False]))
        yield from ()

    src, ckpt = f"{scratch}/events_src", f"{scratch}/ckpt"
    events = load_table(spark, SF_DIR, "events")
    events.filter(F.col("event_id") % 2 == 0).write.parquet(src)
    old = (_stream(spark, src, _EVENTS_DDL)
           .select("user_id", "event_id", "ts", "value")
           .groupBy("user_id")
           .applyInPandasWithState(per_key, EMA_OUTPUT_DDL, EMA_STATE_DDL,
                                   "append", GroupStateTimeout.NoTimeout))
    _run_noop(old, ckpt)
    events.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(src)
    with pytest.raises(StreamingQueryException,
                       match="STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE"):
        _run_noop(ema_per_key(_stream(spark, src, _EVENTS_DDL)), ckpt)


def test_python_stream_source_restart_resumes_from_progress(spark, scratch):
    """END-TO-END restart proof for the custom Python stream source
    (the lifecycle unit tests in test_pydatasource.py drive the
    methods; this drives a REAL query): crash the sink after batch 2's
    output lands but before its offset commits, restart with a FRESH
    reader instance (a new process in production) sharing only the
    checkpoint and the progress file. Spark's offset WAL replays the
    uncommitted batch with its original (start, end) — deterministic
    regeneration makes the replay identical — and the progress-file
    cursor resumes PAST the committed offset, so the run completes
    with zero gaps and duplicates confined to the one replayed
    batch."""
    from big_data_share_market_spark.sources.pydatasource import (
        make_tick_stream_datasource)

    spark.dataSource.register(make_tick_stream_datasource())
    progress = f"{scratch}/progress"
    out = f"{scratch}/out"
    ckpt = f"{scratch}/ckpt"
    n_per, batch = 256, 64

    def sdf():
        return (spark.readStream.format("bdsm_ticks_stream")
                .option("progress_path", progress)
                .option("batch_seqs", str(batch))
                .option("n_per_symbol", str(n_per)).load())

    calls = {"n": 0}

    def crash_after_write(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out)
        calls["n"] += 1
        if calls["n"] == 2:
            raise _InjectedCrash("crash after sink write, before "
                                 "offset commit")

    from pyspark.errors.exceptions.captured import (
        StreamingQueryException)
    q = (sdf().writeStream.foreachBatch(crash_after_write)
         .option("checkpointLocation", ckpt)
         .trigger(processingTime="0 seconds").start())
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()

    # Fresh reader (new registration == new __init__ on next plan),
    # same checkpoint + progress file: the production restart.
    q2 = (sdf().writeStream.foreachBatch(
        lambda bdf, bid: bdf.write.mode("append").parquet(out))
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds").start())
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination()

    got = spark.read.parquet(out)
    per_key = (got.groupBy("symbol", "seq").count())
    n_symbols = got.select("symbol").distinct().count()
    # Zero gaps: every (symbol, seq) of the full deterministic range.
    assert per_key.count() == n_symbols * n_per
    # Duplicates only from the single replayed batch's seq range.
    dups = per_key.where("count > 1")
    assert dups.where("count > 2").count() == 0
    bad = dups.selectExpr("min(seq) AS lo", "max(seq) AS hi").first()
    if bad.lo is not None:
        assert bad.lo >= batch and bad.hi < 2 * batch
