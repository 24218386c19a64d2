"""Streaming repeated-span masking (Structured Streaming).

The streaming twin of operators/dedup.dedup_repeated_windows (x48): the
profile of KNOWN duplicated window fingerprints is a property of the
historical corpus, recomputed offline (:func:`dup_window_profile`); the
stream masks every arriving occurrence of a profiled span. Unlike the
batch operator there is no "globally-first occurrence survives" — history
already contains an occurrence of every profiled span, so an arriving
occurrence is by definition never first. The batch≡stream relationship is
therefore containment, not equality: the stream masks AT LEAST the spans
the batch pass masks on the same corpus (it also masks each span's first
occurrence), pinned together with an exact tiny-corpus check by
tests/test_streaming.py.

Shape: the window explode and fingerprinting are scan-local (same
transform as the batch operator), the profile join is stream-static on
the fingerprint (re-read every micro-batch, Exchange-free against a
bucketed store — the dedup_stream_against_store discipline; the profile
is corpus-frequency-sized, NOT broadcastable, which is why this twin
joins instead of shipping an array like streaming/boilerplate.py), and
the per-document reassembly is a watermark-bounded streaming aggregation
keyed on (doc_id, event_ts) — state per document is its own window rows,
evicted once the watermark passes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_long


def dup_window_profile(docs: DataFrame, *, id_col: str = "doc_id",
                       text_col: str = "text",
                       win_tokens: int = 4) -> DataFrame:
    """(fp, n_occurrences) for every window fingerprint occurring more
    than once in ``docs`` — the static profile the stream consumes. One
    fingerprint-keyed map-side-combined shuffle; persist it to the
    warehouse (bucketed on fp) for an Exchange-free stream probe."""
    k = win_tokens
    d = (docs.withColumn("_toks", F.split(F.col(text_col), " "))
         .withColumn("_n", F.size("_toks")))
    wins = d.select(F.col(id_col), F.posexplode(
        F.when(F.col("_n") >= k, F.transform(
            F.sequence(F.lit(1), F.col("_n") - k + 1),
            lambda s: md5_long(
                F.array_join(F.slice("_toks", s, k), " "))))
        .otherwise(F.array().cast("array<long>"))).alias("_i", "fp"))
    return (wins.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("n_occurrences"))
            .filter(F.col("n_occurrences") >= 2))


def mask_stream(docs: DataFrame, dup_profile: DataFrame, *,
                id_col: str = "doc_id", text_col: str = "text",
                win_tokens: int = 4,
                watermark: str = "1 hour") -> DataFrame:
    """Mask every profiled span in each streamed document. Returns
    (id, n_tokens, n_dup_windows, n_removed_tokens, clean_text) — the
    batch operator's schema, with n_dup_windows counting this document's
    masked window occurrences. Input must carry ``event_ts``."""
    k = win_tokens
    d = (docs.withWatermark("event_ts", watermark)
         .withColumn("_toks", F.split(F.col(text_col), " "))
         .withColumn("_n", F.size("_toks")))
    # posexplode_outer keeps sub-window documents (they emit one null-fp
    # row and pass through unmasked)
    wins = (d.select(F.col(id_col), "event_ts", "_toks", "_n",
                     F.posexplode_outer(
                         F.when(F.col("_n") >= k, F.transform(
                             F.sequence(F.lit(1), F.col("_n") - k + 1),
                             lambda s: md5_long(F.array_join(
                                 F.slice("_toks", s, k), " "))))
                         .otherwise(F.array().cast("array<long>")))
                     .alias("_i", "fp"))
            .withColumn("start", F.col("_i").cast("long") + 1))
    flagged = wins.join(
        dup_profile.select("fp").withColumn("_dup", F.lit(True)),
        "fp", "left")
    agg = (flagged.groupBy(id_col, "event_ts")
           .agg(F.first("_toks").alias("_toks"),
                F.first("_n").alias("_n"),
                F.collect_list(F.when(F.col("_dup"), F.col("start")))
                .alias("_rs")))
    out = agg.withColumn("_rp", F.array_distinct(F.flatten(F.transform(
        "_rs", lambda s: F.sequence(s, s + k - 1)))))
    clean = F.array_join(
        F.filter("_toks",
                 lambda x, i: ~F.array_contains("_rp", i.cast("long") + 1)),
        " ")
    return out.select(
        F.col(id_col), F.col("_n").cast("long").alias("n_tokens"),
        F.size("_rs").cast("long").alias("n_dup_windows"),
        F.size("_rp").cast("long").alias("n_removed_tokens"),
        clean.alias("clean_text"))
