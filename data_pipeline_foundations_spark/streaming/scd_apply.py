"""Streaming SCD2 maintenance (Structured Streaming twin of x76,
plans/extensions.py).

Change events arrive as a stream; each micro-batch is applied to the
versioned dimension store with ``scd2_apply_log`` (operators/scd.py) and
the merged history is committed as a new snapshot via ``write_versioned``
— so the dimension gets x64's CDC surface for free: ``read_versioned``
(version=) time-travels the dimension, ``snapshot_changelog`` diffs two
states of it, and a crashed job resumes from the last _SUCCESS-committed
snapshot.

Batch ≡ stream is EXACT under any batching: run compression is
associative (operators/scd.py docstring), so folding scd2_apply_log over
micro-batches lands bit-equal to the one-pass scd2_from_events build —
pinned in tests/test_streaming.py with maxFilesPerTrigger=1.

foreachBatch is the harness (ann_serving/quality_gate precedent): each
batch is a bounded batch computation against the committed store, and
the commit is the versioned store's atomic _SUCCESS publish. The
monotone-batch precondition (event times >= open rows' valid_from)
is inherited from scd2_apply_log.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from .harness import start_batches


def apply_scd2_stream(event_stream: DataFrame, dim_root: str, *,
                      key: str, tracked: list[str], eff_col: str = "eff",
                      seq_col: str = "seq",
                      on_commit: Callable[[str, int], None] | None = None,
                      processing_time: str | None = None):
    """Start the maintainer. ``event_stream`` carries
    (key, *tracked, eff_col, seq_col); each non-empty micro-batch
    advances the SCD2 history under ``dim_root`` by one committed
    snapshot. ``on_commit(version_dir, batch_id)`` fires per commit."""
    from ..operators.scd import scd2_apply_log, scd2_from_events
    from ..sources.warehouse import current_version_dir, write_versioned

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if current_version_dir(spark, dim_root) is None:
            merged = scd2_from_events(batch_df, key=key, tracked=tracked,
                                      eff_col=eff_col, seq_col=seq_col)
        else:
            from ..sources.warehouse import read_versioned
            dim = read_versioned(spark, dim_root)
            merged = scd2_apply_log(dim, batch_df, key=key,
                                    tracked=tracked, eff_col=eff_col,
                                    seq_col=seq_col)
        out = write_versioned(spark, dim_root, merged)
        if on_commit is not None:
            on_commit(out, batch_id)

    return start_batches(event_stream, handle,
                         processing_time=processing_time)
