"""Streaming exact deduplication (Structured Streaming).

The streaming twin of plans/extensions.x01_dedup_exact: documents arrive
continuously, and only the FIRST occurrence of each content fingerprint
passes downstream. Built on ``dropDuplicatesWithinWatermark`` — state is
keyed by the 60-bit fingerprint and evicted once the watermark passes, so
a continuous ingest keeps O(active-window distinct docs) state instead of
growing forever. That is the semantics a training-data ingest wants:
exact-once per content within the dedup horizon, bounded memory.

Batch≡stream is pinned by tests/test_streaming.py: on a closed input
(AvailableNow) whose event times all fall inside one watermark horizon,
the survivor set equals the batch x01 canonical choice **as a set of
fingerprints**. Which duplicate instance survives differs by design:
batch picks min(doc_id) deterministically; a stream keeps the first
*arrival*. The test therefore compares fingerprint sets, and the arrival
order is made deterministic by feeding a single sorted file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import fingerprint
from .harness import drain

DOCS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("source", T.StringType()),
    T.StructField("n_chars", T.LongType()),
    T.StructField("event_ts", T.TimestampType()),
])


def dedup_stream(docs: DataFrame, *, watermark: str = "1 hour") -> DataFrame:
    """First-occurrence-per-fingerprint filter with watermark-bounded
    state. Input must carry an ``event_ts`` column (ingest time works)."""
    return (docs
            .withColumn("fp", fingerprint("text"))
            .withWatermark("event_ts", watermark)
            .dropDuplicatesWithinWatermark(["fp"]))


def dedup_stream_against_store(docs: DataFrame, history_fp: DataFrame, *,
                               watermark: str = "1 hour",
                               fp_col: str = "fp") -> DataFrame:
    """Streaming twin of operators/dedup.incremental_dedup — the
    production ingest shape: within-stream first occurrence
    (watermark-bounded state) THEN a stream-static LEFT ANTI join
    against the persisted fingerprint store.

    The static side is re-read every micro-batch (so fingerprints
    appended between batches take effect at the next trigger) and, when
    it is the bucketed store table, its scan stays Exchange-free just
    like the batch probe. State stays O(active-window distinct docs):
    the store holds all history; the stream state only bridges
    within-horizon duplicates.
    """
    return (docs
            .withColumn(fp_col, fingerprint("text"))
            .withWatermark("event_ts", watermark)
            .dropDuplicatesWithinWatermark([fp_col])
            .join(history_fp.select(fp_col), fp_col, "left_anti"))


def run_over_dir(spark: SparkSession, docs_dir: str,
                 query_name: str = "dedup_out") -> DataFrame:
    """Drive the dedup stream over a static directory to completion
    (memory sink, append mode) and return the survivors."""
    stream = (spark.readStream.schema(DOCS_SCHEMA)
              .format("parquet").load(docs_dir)
              # one file at a time keeps arrival order deterministic for
              # the batch-equivalence pin
              .selectExpr("*"))
    return drain(dedup_stream(stream), query_name)
