"""Online model-free text retrieval (Structured Streaming + hashed
feature space).

Raw-text queries arrive as a stream; the index is the STATIC hashed
corpus the batch side maintains (x71's feature vectors + exact norms —
no model artifact anywhere). Per micro-batch the query texts are
hash-embedded by the SAME Arrow kernel the batch operator runs
(vectorized.feature_hash_udf — identical exact-int arithmetic), scored
against the corpus with the derived-float cosine contract, and the
per-query top-k flows to the caller's sink callback. foreachBatch is
the harness for the same reason as ann_serving: each batch is a batch
computation against static state, and serving state is zero.

One index source, as in ann_serving: a ``corpus_root``
versioned-snapshot directory re-resolved per batch (the nightly re-hash
swaps in at the next micro-batch on the _SUCCESS flip).

Batch≡stream pinned by tests/test_streaming.py: on a closed query
stream of the first n_queries documents' texts, served results equal
the registered x72 query row-for-row.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .harness import start_batches

FH_DIM = 64


def hashed_corpus(docs: DataFrame, *, id_col: str = "doc_id",
                  text_col: str = "text", dim: int = FH_DIM) -> DataFrame:
    """(id, fvec, n2, rt): the static retrieval index — x71's vectors
    with the exact norm and its hoisted sqrt. Commit it through
    write_versioned to serve it."""
    from ..functions.text import tokens
    from ..operators.similarity import idot
    from ..operators.vectorized import feature_hash_udf

    udf = feature_hash_udf(dim)
    return (docs.select(F.col(id_col), tokens(text_col).alias("toks"))
            .withColumn("fvec", udf("toks"))
            .withColumn("n2", idot("fvec", "fvec"))
            .withColumn("rt", F.sqrt(F.col("n2").cast("double")))
            .drop("toks"))


def serve_text_queries(query_stream: DataFrame, corpus_root: str, *,
                       id_col: str = "doc_id", k: int = 5,
                       dim: int = FH_DIM,
                       on_result: Callable[[DataFrame, int], None],
                       processing_time: str | None = None):
    """Start serving against the hashed corpus (hashed_corpus rows)
    current under the versioned root ``corpus_root``. ``query_stream``
    carries (query_id, text); ``on_result(df, batch_id)`` receives
    (query_id, neighbor_id, rank, cosine) per non-empty batch.
    Self-matches (query_id == neighbor id) are excluded, matching the
    batch operator. ``processing_time`` as in harness.start_batches."""
    from pyspark.sql import Window as W

    from ..functions.text import tokens
    from ..operators.similarity import idot
    from ..operators.vectorized import feature_hash_udf
    from ..sources.warehouse import read_versioned

    udf = feature_hash_udf(dim)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        base = read_versioned(batch_df.sparkSession, corpus_root)
        q = (batch_df.select("query_id", tokens("text").alias("qtoks"))
             .withColumn("qv", udf("qtoks"))
             .withColumn("qrt", F.sqrt(idot("qv", "qv").cast("double")))
             .drop("qtoks"))
        joined = (base.join(F.broadcast(q),
                            F.col(id_col) != F.col("query_id"))
                  .select("query_id",
                          F.col(id_col).alias("neighbor_id"),
                          (idot("qv", "fvec").cast("double")
                           / (F.col("qrt") * F.col("rt"))).alias("cosine")))
        w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                              F.col("neighbor_id").asc())
        on_result(joined.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("query_id", "neighbor_id",
                          F.col("rank").cast("int").alias("rank"),
                          "cosine"), batch_id)

    return start_batches(query_stream, handle,
                         processing_time=processing_time)
