"""Online ANN serving (Structured Streaming + the stored-codes index).

Queries arrive as a stream; the index is the STATIC artifact pair the
batch side maintains (operators/similarity.build_ivfpq_model +
encode_corpus): per micro-batch, the tiny query set collects driver-side
(exactly the per-call collect the batch search performs), its ADC
distance tables are built from the model's codebooks, and one map pass
over the code table answers every query in the batch. foreachBatch is
the right harness — the search is a per-batch BATCH computation against
static state, not a stream-stream join, and results flow to whatever
sink the caller's callback writes (a topic, a table, a memory list in
tests).

One index source: ``codes_root``, a versioned-snapshot directory the
batch side maintains (re-encode → ``write_versioned``), and
``model_path``, a save_ivfpq_model artifact. Each batch re-resolves the
CURRENT committed code version (and reloads the KB-sized model), so a
nightly re-encode swaps into the live query stream at the next
micro-batch with no restart, and the snapshot protocol guarantees a
batch never reads a half-written code table (the swap is the new
version's _SUCCESS marker). A pinned index is a root with one version.
The stamped model params on the code column keep a codes/model mismatch
a hard error, not a silent wrong answer.

Batch≡stream is pinned by tests/test_streaming.py: on a closed query
stream the served results equal operators/similarity.pq_search_from_codes
row-for-row — same kernels, same exact-int arithmetic, only the arrival
framing differs; the rolling-swap test pins that batches before/after a
commit answer against the respective code versions, under a live
processing-time trigger.

Scale: the code table is m ints per corpus vector (bucket it by cid and
persist; re-read per batch like every stream-static side), per-batch
driver state is |batch| query vectors, and nothing accumulates across
batches — serving state is zero.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from .harness import start_batches


def serve_pq_queries(query_stream: DataFrame, codes_root: str,
                     model_path: str, *, id_col: str = "vec_id",
                     vec_col: str = "embedding", k: int = 5,
                     on_result: Callable[[DataFrame, int], None],
                     processing_time: str | None = None):
    """Start the serving query. ``on_result(result_df, batch_id)`` runs
    once per non-empty micro-batch with that batch's (query_id,
    neighbor_id, rank, approx_dist) results, against the code version
    current under ``codes_root`` and the model at ``model_path``.
    Returns the started StreamingQuery (caller awaits/stops it);
    ``processing_time`` as in harness.start_batches.
    """
    from ..operators.similarity import load_ivfpq_model, pq_search_from_codes
    from ..sources.warehouse import read_versioned

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        result = pq_search_from_codes(read_versioned(spark, codes_root),
                                      batch_df,
                                      load_ivfpq_model(spark, model_path),
                                      id_col=id_col, vec_col=vec_col, k=k)
        on_result(result, batch_id)

    return start_batches(query_stream, handle,
                         processing_time=processing_time)
