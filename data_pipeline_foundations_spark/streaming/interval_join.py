"""Stream-stream interval join (Structured Streaming twin of x17).

The batch range_join (operators/temporal.py) becomes, on unbounded
inputs, Spark's native stream-stream join with an event-time range
condition: both sides carry watermarks, so the state store provably
evicts — a click can only match errors at most ``window`` old, and the
watermark bounds how late either side may arrive. This is the exact
case the bin-and-verify trick does NOT need: Structured Streaming's
join executor already range-prunes state by the time condition.

On a closed input (availableNow) the emitted pairs equal the batch
range_join — pinned by tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .harness import drain
from .windowed import EVENTS_SCHEMA


def interval_join_pairs(errors: DataFrame, clicks: DataFrame, *,
                        window: str = "2 hours",
                        watermark: str = "4 hours") -> DataFrame:
    """(error_id, user_id, click_ts, click_value) for every click in the
    half-open ``window`` after an error by the same user. Both inputs
    must carry event-time columns named ``w_start`` (errors) / ``ts``
    (clicks)."""
    e = errors.withWatermark("w_start", watermark)
    c = clicks.withWatermark("ts", watermark)
    cond = ((c["user_id"] == e["user_id"])
            & (c["ts"] >= e["w_start"])
            & (c["ts"] < e["w_start"] + F.expr(f"INTERVAL {window}")))
    return (e.join(c, cond)
            .select("error_id", e["user_id"].alias("user_id"),
                    c["ts"].alias("click_ts"),
                    c["value"].alias("click_value")))


def run_over_dir(spark: SparkSession, events_dir: str,
                 query_name: str = "interval_join_out") -> DataFrame:
    """Drive the streaming interval join over a static events directory
    to completion (append mode — stream-stream inner joins emit matched
    pairs as watermarks advance) and return the collected pairs."""
    def stream():
        return (spark.readStream.schema(EVENTS_SCHEMA)
                .format("parquet").load(events_dir))

    errors = (stream().filter(F.col("event_type") == "error")
              .select(F.col("event_id").alias("error_id"), "user_id",
                      F.col("ts").alias("w_start")))
    clicks = (stream().filter(F.col("event_type") == "click")
              .select("user_id", "ts", "value"))
    return drain(interval_join_pairs(errors, clicks), query_name)
