"""Event-time session windows over the events table, batch and stream.

``session_agg`` is the one session-window aggregation: the `sessionize`
registry query runs it on a static DataFrame, and ``session_stats`` runs
it on a streaming one (``stream_events``) with a watermark so that closed
sessions finalize. One logical plan serves both (Structured Streaming's
core promise); the test drains the stream with ``availableNow`` and
asserts it equals the batch result.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
)


def session_agg(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """The shared session-window aggregation (ONE definition for the
    batch `sessionize` registry query and the streaming form below —
    gap/rounding changes live here exactly once, r3 review): columns
    (user_id, w struct<start,end>, n_events, total_value)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return src.groupBy("user_id", F.session_window("ts", gap).alias("w")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )


def session_stats(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Native session-window aggregation (gap-merged event sessions), one
    logical plan for batch AND stream — the streaming form of the
    `sessionize` registry query (whose oracle is the classical
    gaps-and-islands SQL). Streaming needs the watermark so closed
    sessions can finalize."""
    return session_agg(events, gap, watermark).select(
        "user_id",
        F.unix_timestamp(F.col("w.start")).alias("session_start"),
        "n_events",
        "total_value",
    )


def stream_events(spark: SparkSession, events_dir: str) -> DataFrame:
    """FileStreamSource over a DIRECTORY of events parquet files."""
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(events_dir)
