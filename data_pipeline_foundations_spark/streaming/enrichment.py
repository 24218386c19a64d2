"""Streaming transaction enrichment (Structured Streaming twin of pl04,
plans/pipelines.py; reference extract_arcus_transactions.py:9-71).

Unlike the foreachBatch twins (ann_serving/quality_gate — batch engines
re-run per micro-batch through harness.start_batches), this twin needs
no per-batch handler at all: the arcus enrichment is stateless column
work plus two LEFT joins whose right sides are static dimension tables,
and Structured Streaming supports stream⟕static left joins natively.
So the twin IS the batch function —
``pipelines/arcus_transactions.arcus_transactions`` applied verbatim to
a ``readStream`` transaction frame — and batch≡stream holds by
construction (pinned in tests/test_streaming.py). That is the strongest
form of reuse the engine offers: a user promotes the nightly pipeline
to a continuous one by swapping ``spark.read`` for ``spark.readStream``.

At scale: the stream side never buffers (no watermark/state — stateless
projections and joins), the static bridge sides broadcast when small
and hash-join otherwise, and the min-created-at predicate prunes each
micro-batch's file scan exactly as it prunes the batch scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def enrich_transaction_stream(tx_stream: DataFrame,
                              loan_bridge: DataFrame,
                              unallocated: DataFrame, *,
                              min_created_at: str | None = None,
                              ) -> DataFrame:
    """The pl04 chain over a STREAMING ArcusTransactions frame.

    ``tx_stream`` is a streaming DataFrame in the ArcusTransactions role
    shape (see plans/pipelines.arcus_star_inputs); ``loan_bridge`` and
    ``unallocated`` are STATIC frames. Returns the streaming result
    frame — the caller picks the sink and trigger (append mode works:
    the chain is stateless).

    ``min_created_at`` defaults to the batch twin's shared anchor
    ``plans.pipelines._PL04_MIN_CREATED`` (ADVICE r9): the batch≡stream
    contract this module advertises only holds when both sides cut the
    transaction feed at the SAME date, so a caller relying on the
    default gets the pl04 slice, not a divergent one."""
    from ..pipelines.arcus_transactions import arcus_transactions
    from ..plans.pipelines import _PL04_MIN_CREATED

    if min_created_at is None:
        min_created_at = _PL04_MIN_CREATED

    return arcus_transactions(
        {"arcus_transactions": tx_stream,
         "user_loan_arcus_transactions": loan_bridge,
         "unallocated_payment_arcus_transactions": unallocated},
        min_created_at=min_created_at)
