"""Streaming boilerplate removal (Structured Streaming).

The streaming twin of operators/dedup.remove_boilerplate_segments: the
boilerplate PROFILE (which segment fingerprints are chrome, per source)
is a property of the corpus epoch, recomputed offline by the batch
operator (boilerplate_profile); the stream consumes it as a stateless
broadcast join keyed on the group column and cleans each arriving
document entirely row-locally — split to segments, fingerprint each with
the same md5 scheme, drop members of the group's chrome array,
reassemble in order. No explode crosses the row boundary, so there is no
streaming aggregation, no watermark, and no state: the operator composes
with any upstream watermarked source unchanged. Batch≡stream is pinned
by tests/test_streaming.py (same corpus, same profile → identical
(n_segments, n_boilerplate, clean_text) per document).

At scale: chrome per source is a handful of segments, so the profile is
dimension-sized (broadcastable) no matter how large the corpus; each
micro-batch rereads it so a refreshed profile takes effect at the next
trigger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_long


def clean_stream(docs: DataFrame, boiler_profile: DataFrame, *,
                 id_col: str = "doc_id", group_col: str = "source",
                 text_col: str = "text",
                 seg_tokens: int = 8) -> DataFrame:
    """Strip each streamed document's chrome segments against the static
    per-group profile. Returns (id, group, n_segments, n_boilerplate,
    clean_text) — bit-identical to the batch operator's output for the
    same profile."""
    d = (docs.join(F.broadcast(boiler_profile), group_col, "left")
         .withColumn("_toks", F.split(F.col(text_col), " "))
         .withColumn("_starts", F.sequence(
             F.lit(1), F.greatest(F.size("_toks"), F.lit(1)),
             F.lit(seg_tokens)))
         .withColumn("_segs", F.transform(
             "_starts",
             lambda s: F.array_join(F.slice(F.col("_toks"), s, seg_tokens),
                                    " ")))
         .withColumn("_kept", F.filter(
             "_segs",
             lambda g: ~F.coalesce(
                 F.array_contains(F.col("bfps"), md5_long(g)),
                 F.lit(False)))))
    return d.select(
        F.col(id_col), F.col(group_col),
        F.size("_segs").cast("long").alias("n_segments"),
        (F.size("_segs") - F.size("_kept")).cast("long")
        .alias("n_boilerplate"),
        F.array_join("_kept", " ").alias("clean_text"))
