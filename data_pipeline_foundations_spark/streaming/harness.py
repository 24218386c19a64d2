"""The one way a streaming twin starts.

Two shapes cover every twin that is not a plain streaming DataFrame:

- :func:`start_batches` — a foreachBatch twin: each non-empty micro-batch
  is a BATCH computation against static or versioned state (serving,
  maintenance, refresh). The handler runs inside its own
  ``cache_scope()``, so whatever it persists is released when the batch
  ends: foreachBatch bodies run on a callback thread, outside every
  scope the caller opened.
- :func:`drain` — a closed input run to completion into a memory sink
  and read back as a table (the ``run_over_dir`` drivers and the
  batch≡stream tests).

``file_ingest.run_available_now`` is the one other sink: a checkpointed
parquet drain with its own publish step.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..operators.caching import cache_scope


def start_batches(stream: DataFrame,
                  handle: Callable[[DataFrame, int], None], *,
                  processing_time: str | None = None,
                  checkpoint: str | None = None) -> StreamingQuery:
    """Start ``handle(batch_df, batch_id)`` on every non-empty micro-batch
    of ``stream`` and return the started query (the caller awaits or
    stops it). The trigger is availableNow — drain what is there, then
    stop — unless ``processing_time`` (e.g. ``"1 second"``) asks for a
    live one. ``checkpoint`` makes availableNow restarts incremental. An
    exception in ``handle`` stops the query; ``awaitTermination()``
    raises it as a ``StreamingQueryException``."""
    def run(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        with cache_scope():
            handle(batch_df, batch_id)

    writer = stream.writeStream.foreachBatch(run)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    if processing_time is not None:
        return writer.trigger(processingTime=processing_time).start()
    return writer.trigger(availableNow=True).start()


def drain(df: DataFrame, name: str, *, mode: str = "append") -> DataFrame:
    """Run the streaming ``df`` over everything available into the memory
    table ``name`` (output ``mode``: append, or complete for an
    aggregation), wait for it to finish, and return the table."""
    q = (df.writeStream.outputMode(mode).format("memory").queryName(name)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return df.sparkSession.table(name)
