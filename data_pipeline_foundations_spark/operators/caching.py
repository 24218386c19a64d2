"""Cache scopes: the one lifetime of every persisted or checkpointed
intermediate in the package.

The dedup/similarity operators persist small derived tables (signatures,
inverted indexes) because they feed multiple consumers — both sides of a
self-join plus a verification join — and Spark's exchange reuse does not
reliably kick in for those shapes; iterative operators cut lineage with
``localCheckpoint``. A long-lived session would accumulate both, so
every such call goes through :func:`tracked_persist` or
:func:`local_checkpoint`, which register it in the calling thread's
innermost :func:`cache_scope`; leaving the scope unpersists it, blocking.
The returned DataFrames are lazy and read those intermediates, so the
caller opens the scope around the build AND the terminal action::

    with cache_scope():
        rows = plan(spark, sf_dir).collect()

Scopes live in one ``ContextVar`` and a new thread starts with an empty
context, so a release on one thread never unpersists another thread's
cache (Spark keys its cache by plan: two threads persisting the SAME
plan share one entry). Calls outside every scope land in the thread's
implicit scope, released only by the deprecated
:func:`release_cached_intermediates`.
"""

from __future__ import annotations

import warnings
from contextlib import contextmanager
from contextvars import ContextVar
from typing import Iterator

from pyspark import SparkContext
from pyspark.sql import DataFrame

# The calling thread's scopes, outermost (the implicit one) first. A
# scope holds persisted DataFrames and localCheckpoint RDD ids: a
# checkpoint's blocks belong to the RDD its plan scans, which
# ``df.unpersist()`` does not reach.
_SCOPES: ContextVar[tuple[list, ...]] = ContextVar("cache_scopes", default=())


def _scopes() -> tuple[list, ...]:
    if not _SCOPES.get():
        _SCOPES.set(([],))
    return _SCOPES.get()


def _rdd_id(df: DataFrame) -> int:
    """Id of the RDD a checkpointed DataFrame's ``LogicalRDD`` scans."""
    return df._jdf.queryExecution().analyzed().rdd().id()


def _release(held: list) -> int:
    n = len(held)
    while held:
        entry = held.pop()
        if isinstance(entry, DataFrame):
            entry.unpersist(True)
        else:  # unpersistRDD is private[spark]: a public JVM method
            SparkContext._active_spark_context._jsc.sc().unpersistRDD(
                entry, True)
    return n


@contextmanager
def cache_scope() -> Iterator[list]:
    """Release, on exit, everything this thread registered inside the
    block; yields the list of what the scope holds."""
    held: list = []
    token = _SCOPES.set(_scopes() + (held,))
    try:
        yield held
    finally:
        _SCOPES.reset(token)
        _release(held)


def persistent_rdd_ids(sc: SparkContext) -> set[int]:
    """Current persistent (cached or locally-checkpointed) RDD ids."""
    return {int(k) for k in
            sc._jsc.getPersistentRDDs().keySet().toArray()}


def tracked_persist(df: DataFrame, eager: bool = True) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK) in the innermost scope.

    ``eager=True`` (default) materializes the cache with a count() before
    returning. This is deliberate, not a convenience: every caller feeds
    the persisted table to BOTH sides of a self-join, and Spark submits a
    join's two input stages concurrently — two stage sets racing over an
    unmaterialized InMemoryRelation each compute the missing partitions
    themselves, running the expensive signature scan ~twice. One eager
    pass makes every downstream consumer a cache hit (measured: x06
    4.9 s → ~1.7 s at sf0.1).
    """
    _scopes()[-1].append(df.persist())
    if eager:
        df.count()
    return df


def local_checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)`` in the innermost scope, which
    holds the id of the RDD the checkpointed plan scans (a diff of the
    session's persistent RDDs would also catch another thread's)."""
    out = df.localCheckpoint(eager=True)
    _scopes()[-1].append(_rdd_id(out))
    return out


def release_checkpoint(df: DataFrame) -> None:
    """Free a :func:`local_checkpoint` of the innermost scope before the
    scope exits (an iterative operator's superseded round)."""
    rid = _rdd_id(df)
    _scopes()[-1].remove(rid)
    _release([rid])


def release_cached_intermediates() -> int:
    """Deprecated: open a :func:`cache_scope` instead. Releases the calling
    thread's implicit scope and returns how many entries it held."""
    warnings.warn("release_cached_intermediates() is deprecated; use "
                  "`with cache_scope():`", DeprecationWarning, stacklevel=2)
    return _release(_scopes()[0])
