"""Online trained-classifier quality gate (Structured Streaming twin of
x74, plans/extensions.py).

Documents arrive as a stream; the model is the STATIC (bucket, weight)
table the batch trainer produced (train_token_weights — integer
class-frequency-ratio weights, KB-scale). Per micro-batch the documents
are scored by the SAME broadcast-join path the batch operator runs
(classifier_score_with_weights — identical exact-int arithmetic), and
the (doc_id, n_tokens, score, mean_weight, keep) verdicts flow to the
caller's sink callback. foreachBatch is the harness for the same reason
as ann_serving/text_retrieval: each batch is a batch computation
against static state and the gate itself is stateless, so batch≡stream
is exact by construction (pinned in tests/test_streaming.py).

One model source, as in ann_serving: a ``model_root`` versioned-snapshot
directory re-resolved per batch — a nightly retrain swaps in at the next
micro-batch on the _SUCCESS flip, the rolling-model deployment shape a
production filter needs (a pinned model is a root with one version).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from .harness import start_batches


def serve_quality_gate(doc_stream: DataFrame, model_root: str, *,
                       threshold: float = 0.0,
                       on_result: Callable[[DataFrame, int], None],
                       processing_time: str | None = None):
    """Start the gate against the (bucket, weight) table current under
    the versioned root ``model_root``. ``doc_stream`` carries
    (doc_id, text); ``on_result(df, batch_id)`` receives x74's exact
    output shape (doc_id, n_tokens, score, mean_weight, keep) per
    non-empty batch. ``processing_time`` as in harness.start_batches."""
    from ..plans.extensions import classifier_score_with_weights
    from ..sources.warehouse import read_versioned

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        w = read_versioned(batch_df.sparkSession, model_root)
        on_result(classifier_score_with_weights(
            batch_df, w, threshold=threshold), batch_id)

    return start_batches(doc_stream, handle, processing_time=processing_time)
