"""Streaming import pipeline (SURVEY §2.10).

The reference's core IR is already a time-ordered fact log imported in tx
order with a durable resume cursor (``runcommand.py:180-211,393-406``) and
late patches upserted afterwards (``pseudoace.py:105-110``).  Structured
Streaming expresses all three natively:

* the datom log directory is a file-stream source;
* ``trigger(availableNow=True)`` + checkpoint = the resumable bulk import
  (process one backlog batch-wise, durably, restartable — exactly the
  shelve cursor's semantics but per-file);
* late patches = watermark + ``foreachBatch`` MERGE into the versioned
  store (``TxTable.merge`` with the ``eav.upsert_patches`` transform —
  the Delta MERGE INTO analog), one idempotent commit per micro-batch —
  orders of magnitude cheaper than the reference's stop-the-world
  reimport.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.eav import DATOM_DDL, upsert_patches
from ..plans.txlog import TxTable


def stream_datoms(spark: SparkSession, log_dir: str) -> DataFrame:
    """Datom-log directory as a streaming source (S8 input side)."""
    return spark.readStream.schema(DATOM_DDL).parquet(log_dir)


def import_available_now(
    datoms: DataFrame, target_dir: str, checkpoint_dir: str
) -> StreamingQuery:
    """S8: resumable bulk import — process the whole backlog now, durably.

    availableNow + checkpoint gives per-batch exactly-once into the store;
    a restart resumes from the last committed batch (the reference's
    LAST_STEP_OK cursor, but file-granular and automatic)."""
    return (
        datoms.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .format("parquet")
        .option("path", target_dir)
        .outputMode("append")
        .start()
    )


def late_patch_merge(
    patches: DataFrame,
    base_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
) -> StreamingQuery:
    """X4 streaming form: late patches MERGE into the TxTable store at
    ``base_dir`` (holding the base import) via foreachBatch — each
    micro-batch resolves last-write-wins with retraction
    (``eav.upsert_patches``) as one commit under the txn identity
    ``("late_patch", batch_id)``, so a redelivered batch is a no-op
    and readers always see a resolved store (no append-then-compact
    pass).  Watermarking bounds state for any stateful upstream
    aggregation."""
    store = TxTable(base_dir)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        store.merge(
            batch_df.sparkSession,
            upsert_patches(batch_df),
            txn=("late_patch", batch_id),
        )

    return (
        patches.withWatermark("tx", watermark)
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_class_counts(datoms: DataFrame) -> DataFrame:
    """Streaming analog of the X6 flagship's count side: running
    per-class distinct-entity counts maintained incrementally as the
    import stream lands (``approx_count_distinct`` — exact distinct needs
    unbounded state; the QA gate re-checks exactly on the final store).
    Pair with ``outputMode('update')`` and a foreachBatch reconcile
    against the id catalog for a live QA dashboard."""
    return datoms.groupBy("class" if "class" in datoms.columns else "a").agg(
        F.count(F.lit(1)).alias("n_datoms"),
        F.approx_count_distinct("e").alias("approx_entities"),
    )


def stream_dedup(
    records: DataFrame,
    subset: list[str],
    ts_col: str = "tx",
    delay: str = "1 hour",
) -> DataFrame:
    """Streaming ingest dedup: drop records whose ``subset`` key was
    already seen within the watermark horizon — the streaming form of the
    exact-dedup tier (a training-data feed re-delivers documents; the
    fingerprint key bounds state to one row per key per horizon, evicted
    by the watermark instead of growing forever)."""
    return records.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
        subset
    )


def windowed_event_rollup(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """§2.10 windowed agg surface: tumbling-window counts/sums with late
    data bounded by the watermark.  Same logical agg as the batch
    ``events_hourly_rollup`` declared query.  ``ts`` is coerced to the
    local-tz TIMESTAMP type first: event-time watermarks reject
    TIMESTAMP_NTZ, and file sources written without the UTC-adjusted
    parquet annotation arrive as NTZ (identity cast under the engine's
    pinned-UTC session timezone)."""
    if dict(events.dtypes).get("ts") == "timestamp_ntz":
        events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias(
                "sum_value"
            ),
        )
        .select(
            F.col("win.start").alias("hour"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_windowed_rollup(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows per user (offered built-in; no reference operator
    requires it — SURVEY §2.10)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )
