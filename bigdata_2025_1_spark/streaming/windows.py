"""Event-time streaming operators (F6 — the extension surface the
reference imported but never used, spark/consumer.py:5): watermarks,
tumbling/session windows, watermarked dedup.

Each builder takes a streaming DataFrame with an event-time column and
returns the transformed streaming DataFrame; batch twins of the same
expressions are oracle-checked in operators/events_ops.py."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_2025_1_spark.functions.exact import exact_sum


def tumbling_counts(
    events: DataFrame,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    window: str = "1 hour",
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type. Late rows beyond
    the watermark are dropped; state is purged as the watermark advances —
    the property that makes this run forever at scale."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            exact_sum(F.col("value"), 2).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


def session_counts(
    events: DataFrame,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    gap: str = "30 minutes",
) -> DataFrame:
    """Native session windows (gap-close semantics; batch twin:
    operators/events_ops.user_sessionization)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def dedup_within_watermark(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """dropDuplicatesWithinWatermark: bounded-state streaming dedup —
    duplicates arriving within the watermark horizon are suppressed, state
    is expired after it (batch twin: dedup_first_event_per_user_type)."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
