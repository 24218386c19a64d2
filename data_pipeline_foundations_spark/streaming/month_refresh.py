"""Streaming month-partition refresh (Structured Streaming twin of pl03,
pipelines/growth_data.py; reference extract_growth_data.py:78-175).

The batch pipeline is a nightly job: monthly export frames in, dynamic
partition overwrite of exactly the touched ``month_tag=`` partitions
out. This twin promotes it to continuous operation: monthly exports
LAND on a stream (each row tagged with the month it belongs to, the
same role the source file name plays in the reference), and per
micro-batch the delivered months are routed through the SAME
``refresh_monthly_partitions`` batch function — foreachBatch is the
harness, the refresh logic is shared verbatim, so batch≡stream holds by
construction (pinned in tests/test_streaming.py).

Semantics per micro-batch mirror the reference's two processing cases:

- ``refresh_delivered=True`` (default): every month present in the
  batch is treated as an explicit refresh (CASE A) — a re-delivered
  corrected export replaces its month's partition, last writer wins.
  This is the "corrected export re-lands" shape of the nightly job.
- ``refresh_delivered=False``: delivered months are only written when
  the partition does not exist yet (CASE B via ``process_missing``);
  re-deliveries of existing months are skipped (CASE C).

At scale the per-batch cost is O(delivered months), never O(history):
the existence probe is a partition-directory listing and the write
replaces only the delivered months' partitions — identical to the
batch pipeline's claim, now amortized per micro-batch.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from .harness import start_batches


def _make_handler(dataset_path: str, *, month_tag_col: str = "month_tag",
                  refresh_delivered: bool = True,
                  on_written: Callable[[list[str], int], None]
                  | None = None) -> Callable[[DataFrame, int], None]:
    """The micro-batch body. Mount it with harness.start_batches, which
    skips empty batches and opens the cache scope its persist lands in;
    tests call it on a batch frame directly."""
    from ..operators.caching import tracked_persist
    from ..pipelines.growth_data import refresh_monthly_partitions

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = tracked_persist(batch_df, eager=False)
        raw_tags = [r[0] for r in
                    batch_df.select(month_tag_col).distinct().collect()]
        # A null tag would make sorted() raise an opaque None-vs-str
        # TypeError and could never match the per-month equality
        # filter below — fail loud with the actual problem instead
        # (ADVICE r10). Cheap: reuses the collected distinct tags.
        if any(t is None for t in raw_tags):
            raise ValueError(
                f"refresh_month_stream: micro-batch {batch_id} has "
                f"rows with NULL {month_tag_col!r} — every row must "
                f"carry the month tag derived from its landing file")
        tags = sorted(raw_tags)
        frames = {
            tag: batch_df.filter(batch_df[month_tag_col] == tag)
                         .drop(month_tag_col)
            for tag in tags
        }
        written = refresh_monthly_partitions(
            batch_df.sparkSession, dataset_path, frames,
            months_to_refresh=tags if refresh_delivered else None,
            process_missing=True)
        if written and on_written is not None:
            on_written(written, batch_id)

    return handle


def refresh_month_stream(raw_stream: DataFrame, dataset_path: str, *,
                         month_tag_col: str = "month_tag",
                         refresh_delivered: bool = True,
                         on_written: Callable[[list[str], int], None]
                         | None = None,
                         checkpoint: str | None = None,
                         processing_time: str | None = None):
    """Start the refresh stream.

    ``raw_stream`` carries the RAW export columns plus ``month_tag_col``
    (YYYY_MM — derived upstream from the landing file name, exactly the
    reference's tag source). Per non-empty micro-batch the rows are
    split by month tag and handed to ``refresh_monthly_partitions``;
    ``on_written(tags, batch_id)`` receives the list of month tags the
    batch actually wrote (empty-skip batches are not reported).
    ``checkpoint`` makes availableNow restarts incremental — only files
    that landed since the last run are processed.
    """
    handle = _make_handler(dataset_path, month_tag_col=month_tag_col,
                           refresh_delivered=refresh_delivered,
                           on_written=on_written)
    return start_batches(raw_stream, handle, processing_time=processing_time,
                         checkpoint=checkpoint)
