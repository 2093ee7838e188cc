"""Idempotent upsert sink (SURVEY §2.G3/G4/D5): foreachBatch
last-write-wins keyed merge — the reference's Postgres PK upsert
(`flink_processor/flink_processor.py:77-91`, `postgres/init.sql:12`)
without a database.

The micro-batch is first collapsed to one row per key
(sources/connectors.upsert_batch_fn), then merged against the target:
rows whose key appears in the batch are replaced, others kept. At
scale the same foreachBatch body is a Delta `MERGE INTO` or JDBC
`INSERT ... ON CONFLICT` (sources/connectors.jdbc_upsert_sql); the
Parquet rewrite here keeps the test container dependency-free while
exercising identical semantics — replaying the stream twice must equal
replaying it once (G4: the reference producer re-sends the full day
every 60 s and relies on exactly this).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..sources.connectors import upsert_batch_fn

KEYS = ["user_id", "ts"]
ORDER_COL = "event_id"


def _merge_write(spark: SparkSession, target_dir: str):
    """foreachBatch body that merges each deduped micro-batch into
    `target_dir`. The closure is the target's only writer, so after
    its first write it reads the target with the schema it wrote
    instead of paying a schema-inference job per micro-batch. Before
    that, a target left by someone else is read with inference, so one
    with other columns fails loudly rather than reading as NULLs."""
    written = None

    def write(deduped: DataFrame) -> None:
        nonlocal written
        cols = deduped.columns
        if os.path.exists(target_dir):
            reader = (spark.read if written is None
                      else spark.read.schema(written))
            existing = reader.parquet(target_dir)
            # anti-join: keep target rows whose key is NOT overwritten
            kept = existing.join(deduped.select(*KEYS).distinct(),
                                 on=KEYS, how="left_anti")
            merged = kept.select(*cols).unionByName(deduped)
        else:
            merged = deduped
        tmp = f"{target_dir}.tmp-{uuid.uuid4().hex[:8]}"
        merged.write.mode("overwrite").parquet(tmp)
        if os.path.exists(target_dir):
            shutil.rmtree(target_dir)
        os.rename(tmp, target_dir)
        written = merged.schema

    return write


def upsert_stream(sdf: DataFrame, spark: SparkSession, target_dir: str,
                  checkpoint_dir: str) -> None:
    """Run a stream to completion into the keyed Parquet target."""
    q = (
        sdf.writeStream
        .foreachBatch(upsert_batch_fn(KEYS, _merge_write(spark, target_dir),
                                      order_col=ORDER_COL))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def upsert_stream_jdbc(sdf: DataFrame, spark: SparkSession, url: str,
                       table: str, checkpoint_dir: str,
                       keys: list[str] | None = None,
                       order_col: str = ORDER_COL,
                       create_col_types: str | None = None) -> None:
    """A7 with a REAL database: stream → foreachBatch → staged JDBC
    MERGE into a PK'd table (sources/connectors.jdbc_merge_write).
    The target table must already exist with its composite PK — the
    reference creates it up front too (`postgres/init.sql:3-13`)."""
    from ..sources.connectors import jdbc_merge_write
    q = (
        sdf.writeStream
        .foreachBatch(upsert_batch_fn(
            keys or KEYS,
            jdbc_merge_write(spark, url, table, keys or KEYS,
                             create_col_types=create_col_types),
            order_col=order_col))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
