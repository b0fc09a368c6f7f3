"""Streaming rollups and ingest dedup (SURVEY §2.10).

Structured Streaming operators over an append-only source, each bounded
by an event-time watermark so state stays finite:

* ``stream_dedup`` — exactly-once ingest of a re-delivering feed
  (``dropDuplicatesWithinWatermark`` on a fingerprint key);
* ``windowed_event_rollup`` / ``session_windowed_rollup`` — tumbling
  and session-window aggregates with late data bounded by the
  watermark.

The release's import (S8) and patches (X4) run once, in batch, as
``MigrationJob`` steps; the streaming MERGE of late upserts into the
versioned store is ``queries_streaming.q_stream_merge_upsert``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
