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

import glob
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..sources.connectors import upsert_batch_fn

KEYS = ["user_id", "ts"]
ORDER_COL = "event_id"


def _recover(target_dir: str) -> None:
    """Undo a swap a crash cut short. The swap renames the target to
    `<target>.old` before renaming the new copy in, so an `.old` with
    no target beside it holds the last committed rows: put it back.
    Then drop leftover `.old` and `.tmp-*` directories; none of them
    can be the committed target."""
    old = f"{target_dir}.old"
    if os.path.exists(old) and not os.path.exists(target_dir):
        os.rename(old, target_dir)
    for stale in glob.glob(glob.escape(target_dir) + ".tmp-*") + [old]:
        shutil.rmtree(stale, ignore_errors=True)


def _merge_write(spark: SparkSession, target_dir: str):
    def write(deduped: DataFrame) -> None:
        _recover(target_dir)
        cols = deduped.columns
        if os.path.exists(target_dir):
            existing = spark.read.parquet(target_dir)
            # anti-join: keep target rows whose key is NOT overwritten
            kept = existing.join(deduped.select(*KEYS).distinct(),
                                 on=KEYS, how="left_anti")
            merged = kept.select(*cols).unionByName(deduped)
        else:
            merged = deduped
        tmp = f"{target_dir}.tmp-{uuid.uuid4().hex[:8]}"
        merged.write.mode("overwrite").parquet(tmp)
        # Never a moment without a committed copy: the old target moves
        # aside before the new one lands and is deleted only after.
        old = f"{target_dir}.old"
        if os.path.exists(target_dir):
            os.rename(target_dir, old)
        os.rename(tmp, target_dir)
        shutil.rmtree(old, ignore_errors=True)

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
