"""Watermarked event-time window aggregation (Structured Streaming).

The streaming twin of plans/extensions.s01_tumbling_window: identical
``F.window`` spec, plus a watermark bounding state for late data. On a
closed input (AvailableNow / processAllAvailable) results equal the batch
query — pinned by tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .harness import drain

EVENTS_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])


def windowed_counts(events: DataFrame, *, watermark: str = "2 hours") -> DataFrame:
    """1-hour tumbling windows per event_type; watermark bounds state so a
    continuous run evicts closed windows instead of growing forever."""
    return (
        events
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             (F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")) / F.lit(100.0))
             .alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "total_value")
    )


def run_over_dir(spark: SparkSession, events_dir: str,
                 query_name: str = "windowed_out") -> DataFrame:
    """Drive the streaming query over a static directory to completion
    (memory sink, complete mode) and return the result as a DataFrame."""
    stream = (spark.readStream.schema(EVENTS_SCHEMA)
              .format("parquet").load(events_dir))
    return drain(windowed_counts(stream), query_name, mode="complete")
