"""Event-time windowed aggregation with watermarked late-data handling.

The reference is batch-only (SURVEY.md §2.9), but the engine's events
table is a stream in production. This is the standard Structured
Streaming shape: ``readStream → withWatermark → window().agg →
writeStream(append)``; with ``Trigger.AvailableNow`` it drains whatever
has landed and stops, so the same job serves both backfill and tail
processing. Results are identical to the batch groupBy-window (pinned
by test) because append mode only emits windows the watermark closed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp_ntz, user_id bigint, "
    "event_type string, value double, props string"
)
# the tumbling window both the batch twin and the stream aggregate over
WINDOW = "60 minutes"


def windowed_event_counts_batch(events: DataFrame) -> DataFrame:
    """The batch twin of the streaming aggregation (same expressions)."""
    return (
        events.groupBy(
            F.window(F.col("ts").cast("timestamp"), WINDOW),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2)
             .alias("total_value"))
        .select(F.col("window.start").alias("window_start"), "event_type",
                "n_events", "total_value")
    )


def windowed_event_counts_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "2 hours",
) -> None:
    """Watermarked streaming version; drains available input and stops.

    Late events older than ``watermark`` are dropped (state is bounded —
    the property that matters when this runs against an unbounded
    ingest at cluster scale). Append mode: a window is emitted exactly
    once, when the watermark passes its end.
    """
    events = (
        spark.readStream.schema(EVENTS_SCHEMA).parquet(input_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
    )
    agg = (
        events.groupBy(F.window("ts", WINDOW), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2)
             .alias("total_value"))
        .select(F.col("window.start").alias("window_start"), "event_type",
                "n_events", "total_value")
    )
    q = (
        agg.writeStream.format("parquet")
        .outputMode("append")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
