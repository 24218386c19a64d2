"""Streaming KMV sketch maintenance (Structured Streaming twin of x90,
plans/quality.py).

A 100 TB ingest never rebuilds the cross-source similarity matrix from
scratch: it maintains the per-source KMV sketches — |sources| rows of 256
longs — and re-derives every pairwise Jaccard estimate from them on
demand. Because the KMV merge is LOSSLESS (bottom-k of a union equals
bottom-k of the merged bottom-k's — the pigeonhole argument in
operators/sketches.py), the maintained sketch is byte-identical to the
batch build over everything ingested so far, no matter how the stream
was micro-batched; batch≡stream here is exact set equality, not an
approximation-meets-approximation comparison. That is the whole point of
choosing a mergeable summary as the operator's state.

Per micro-batch: shingle the arriving documents (same scan-local
with_shingle_hashes + per-doc bottom-k cap as the batch path), sketch
the batch with kmv_sketch, and kmv_merge into the versioned store
(sources/warehouse.py) — each commit is a new snapshot, so consumers get
time travel (the sketch as of any ingest point) and crash recovery (a
half-written snapshot is invisible until _SUCCESS lands) for free,
exactly like the SCD2 twin (streaming/scd_apply.py). An empty store
bootstraps from the first batch.

Batch≡stream and stream-merged ≡ whole-corpus-built are pinned in
tests/test_streaming.py; the derived kmv_jaccard output is pinned equal
to the registered x90 rows on the same corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.sketches import KMV_K, _bottom_k, kmv_merge, kmv_sketch
from .harness import start_batches


def batch_source_sketch(docs: DataFrame, *, text_col: str = "text",
                        strata_col: str = "source", n: int = 3,
                        k: int = KMV_K) -> DataFrame:
    """One micro-batch (or any document frame) → its (stratum, sk)
    sketch: the SAME shingle → per-doc bottom-k cap → two-phase
    bottom-k pipeline as the registered x90 query, factored so the
    batch operator and the stream twin cannot drift."""
    from ..operators.dedup import with_shingle_hashes

    shx = (with_shingle_hashes(docs, text_col, n, out="_sh")
           .select(F.col(strata_col),
                   F.explode_outer(_bottom_k(F.col("_sh"), k)).alias("s"))
           .filter(F.col("s").isNotNull()))
    return kmv_sketch(shx, key_col="s", strata_col=strata_col, k=k)


def maintain_kmv_stream(doc_stream: DataFrame, store_root: str, *,
                        text_col: str = "text", strata_col: str = "source",
                        n: int = 3, k: int = KMV_K,
                        processing_time: str | None = None):
    """Start the maintenance query: each non-empty micro-batch's sketch
    is kmv_merge'd into the versioned store at ``store_root`` (bootstrap
    on first batch). State is |sources|·k longs regardless of ingest
    volume — the sketch IS the stream's entire memory of the corpus."""
    from ..sources.warehouse import list_versions, read_versioned, write_versioned

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_sk = batch_source_sketch(batch_df, text_col=text_col,
                                       strata_col=strata_col, n=n, k=k)
        if list_versions(spark, store_root):
            merged = kmv_merge(read_versioned(spark, store_root),
                               batch_sk, k=k)
        else:
            merged = batch_sk
        write_versioned(spark, store_root, merged)

    return start_batches(doc_stream, handle, processing_time=processing_time)
