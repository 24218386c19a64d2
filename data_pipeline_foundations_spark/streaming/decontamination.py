"""Streaming decontamination admission gate (Structured Streaming).

The streaming twin of x53's Bloom pre-filter stage (plans/quality.py):
the benchmark's membership BITSET is a property of the evaluation-set
epoch — a fixed 2 KB artifact built offline by the batch operators
(bloom_build over the benchmark's distinct shingle hashes, packed by
bloom_bitset_words) — and the stream tests every arriving document
against it entirely row-locally: shingle in-array, probe each shingle's
K positions with the same multiply-add hashed-key family, count
survivors. No explode crosses the row boundary, so there is no
streaming aggregation, no watermark, and no state; the operator
composes with any upstream watermarked source unchanged. This is the
production admission shape at 100 TB ingest: a contaminated document is
flagged (or dropped) at the door for the cost of a few integer mixes
per shingle, and only flagged survivors ever reach the exact
verification join downstream. Batch≡stream is pinned by
tests/test_streaming.py (same corpus, same bitset → identical rows),
and the flagged set is cross-checked against the registered x53 query
(every x53 row is a flagged row with the same n_bloom_hits — the gate
is the same decision, re-expressed stateless).

The per-element probe runs interpreted (HOF lambdas are outside
codegen — the measured x53 adjudication in SCALING.md r11 part 2);
that trade is correct HERE because the stream form must stay one-row-
in/one-row-out stateless, and the arithmetic family keeps the
interpreted probe cheap (no md5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import with_shingle_hashes


def decontamination_gate_stream(docs: DataFrame, bitset_words: list[int],
                                *, id_col: str = "doc_id",
                                text_col: str = "text",
                                n: int = 5) -> DataFrame:
    """Flag each streamed document against the benchmark bitset.

    Returns (id, n_shingles, n_bloom_hits, flagged) — one row per input
    row, scan-local. ``bitset_words`` is bloom_bitset_words' packed
    int64 list (build and probe must share the hashed-key family)."""
    from ..operators.sketches import bloom_filter_array

    d = (with_shingle_hashes(docs, text_col, n, out="_sh")
         .withColumn("_shd", F.coalesce(F.array_distinct("_sh"),
                                        F.expr("array()").cast("array<long>")))
         .withColumn("_bs", bloom_filter_array(F.col("_shd"), bitset_words)))
    return d.select(
        F.col(id_col),
        F.size("_shd").cast("long").alias("n_shingles"),
        F.size("_bs").cast("long").alias("n_bloom_hits"),
        (F.size("_bs") > 0).cast("int").alias("flagged"))
