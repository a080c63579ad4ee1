"""Structured Streaming path.

The reference has NO streaming (SURVEY §2.13): it emulates increments
with daily Airflow runs over date-encoded paths. The north-star
(BASELINE.json "batch/streaming pipeline") asks for a genuine streaming
path, so this module provides the standard shapes:

- file-source event stream with explicit schema,
- watermarked tumbling / sliding / session window aggregates,
- late-data dedup via dropDuplicatesWithinWatermark,
- foreachBatch SCD2 merge (streaming upsert into the Silver table).

All transformations reuse the exact batch expressions from queries.py —
one definition, two execution modes (the point of Structured Streaming).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, path: str, fmt: str = "json", max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(EVENT_SCHEMA).format(fmt)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def tumbling_counts_stream(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window counts — streaming twin of the batch
    evt_tumbling_hourly query. The watermark bounds state: late rows
    beyond it are dropped, finalized windows are evicted."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("events"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "events", "total_value")
    )


def sliding_counts_stream(
    events: DataFrame, window: str = "1 hour", slide: str = "15 minutes", watermark: str = "2 hours"
) -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "events")
    )


def session_windows_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Native session windows (F.session_window) — streaming twin of the
    batch gaps-and-islands evt_sessionization query."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("user_id"),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Late-data-safe streaming dedup: one row per event_id within the
    watermark horizon (bounded state, unlike plain dropDuplicates)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def scd2_foreach_batch(scd2_table):
    """foreachBatch sink applying each micro-batch as an SCD2 merge —
    the streaming form of the reference's daily Delta MERGE
    (silver_etl_script.py:916-966)."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        scd2_table.merge(batch_df)

    return apply


def user_running_totals_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator via transformWithStateInPandas (the
    Spark 4 arbitrary-state API): per-user running totals held in an
    explicit ValueState, emitting one row per user per micro-batch.
    The shape to copy for any bespoke streaming state machine that
    window aggregates can't express. The reference has no streaming at
    all (SURVEY §2.13); this is the north-star's custom-stateful op."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("n", T.LongType()), T.StructField("total", T.DoubleType())]
    )

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    # NoTimeout keeps this portable; on a real cluster add
    # ProcessingTimeTimeout + state.setTimeoutDuration to expire idle
    # users and bound state. (Spark 4's transformWithStateInPandas is
    # the successor API but needs protobuf at runtime.)
    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def enrich_stream_with_dim(events: DataFrame, dim: DataFrame, on: str = "user_id") -> DataFrame:
    """Stream-static join: each micro-batch joins against the (batch)
    dimension — the streaming twin of J1. The static side re-reads per
    micro-batch, so a Delta/parquet dim picks up slowly-changing updates
    without restarting the query; Spark broadcasts it per batch."""
    return events.join(dim, on, "left")


def correlate_streams(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join with event-time bounds: pairs of events
    from the two streams for the same key within ``within`` of each
    other. Both sides watermarked so join state is evicted — without the
    time bound the state would grow forever."""
    l = left.withWatermark("ts", watermark).alias("l")
    r = right.withWatermark("ts", watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col("r.ts") >= F.col("l.ts"))
        & (F.col("r.ts") <= F.col("l.ts") + F.expr(f"INTERVAL {within}"))
        & (F.col("l.event_id") != F.col("r.event_id"))
    )
    return l.join(r, cond).select(
        F.col(f"l.{key}").alias(key),
        F.col("l.event_id").alias("left_event"),
        F.col("r.event_id").alias("right_event"),
        F.col("l.ts").alias("left_ts"),
        F.col("r.ts").alias("right_ts"),
    )
