"""Streaming URL frontier (Structured Streaming).

The streaming twin of plans/extensions.x62_canonical_url_dedup: capture
URLs arrive continuously; each is canonicalized, dropped if its host is
blocklisted, and passed downstream only on its FIRST canonical-URL
occurrence — the online crawl-frontier admission filter.

Shapes mirror the batch operator exactly: canonicalization is the shared
3-regex helper (functions/text.canonical_url), the blocklist is a
STREAM-STATIC left anti join (re-read per micro-batch, so blocklist
updates take effect at the next trigger), and first-occurrence state is
keyed by canonical URL and watermark-evicted — O(active-window distinct
URLs), never the full crawl history. Batch≡stream pinned by
tests/test_streaming.py (canonical-URL survivor sets match; which
capture survives differs by design: batch keeps min doc_id, the stream
keeps first arrival).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..functions.text import canonical_url, url_host
from .harness import drain

URL_DOCS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("url", T.StringType()),
    T.StructField("event_ts", T.TimestampType()),
])


def url_frontier_stream(captures: DataFrame, blocklist: DataFrame, *,
                        watermark: str = "1 hour") -> DataFrame:
    """First-admission-per-canonical-URL filter behind a host
    blocklist. ``captures`` must carry url + event_ts; ``blocklist`` is
    a static (bhost string) table."""
    c = (captures
         .withColumn("canon_url", canonical_url("url"))
         .withColumn("host", url_host("canon_url")))
    c = c.join(blocklist, c.host == blocklist.bhost, "left_anti")
    return (c.withWatermark("event_ts", watermark)
            .dropDuplicatesWithinWatermark(["canon_url"]))


def run_over_dir(spark: SparkSession, captures_dir: str,
                 blocklist: DataFrame,
                 query_name: str = "url_frontier_out") -> DataFrame:
    """Drive the frontier stream over a static directory to completion
    (memory sink, append mode) and return the admitted captures."""
    stream = (spark.readStream.schema(URL_DOCS_SCHEMA)
              .format("parquet").load(captures_dir))
    return drain(url_frontier_stream(stream, blocklist), query_name)
