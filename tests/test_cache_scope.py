"""Cache scopes (operators/caching.py): every persist and local checkpoint
in the package is registered in the calling thread's innermost
``cache_scope()`` and released when it exits — and only that thread's."""

from __future__ import annotations

import re
import threading
from pathlib import Path

import pytest
from pyspark import InheritableThread

from data_pipeline_foundations_spark.operators import caching
from data_pipeline_foundations_spark.operators.caching import (
    cache_scope, local_checkpoint, persistent_rdd_ids,
    release_cached_intermediates, tracked_persist,
)
from data_pipeline_foundations_spark.registry import all_queries

from tests.test_oracle_parity import assert_frames_match


def test_only_caching_module_persists():
    """The scope is the one lifetime: no other module of the package
    persists, caches or checkpoints by hand, nor sets the session-global
    checkpoint directory."""
    raw = re.compile(r"\.(persist|unpersist|localCheckpoint|checkpoint)\("
                     r"|\.cache\(\)|setCheckpointDir\(")
    own = Path(caching.__file__)
    offenders = [
        f"{path.relative_to(own.parents[1])}:{m.group(0)}"
        for path in sorted(own.parents[1].rglob("*.py")) if path != own
        for m in raw.finditer(path.read_text())]
    assert offenders == []


def test_scope_releases_persist_on_exit_and_error(spark):
    sc = spark.sparkContext
    before = persistent_rdd_ids(sc)
    with cache_scope() as held:
        df = tracked_persist(spark.range(10).selectExpr("id * 2 AS v"))
        assert held == [df] and df.is_cached
        assert persistent_rdd_ids(sc) - before
    assert not df.is_cached and held == []
    assert persistent_rdd_ids(sc) <= before
    with pytest.raises(RuntimeError):
        with cache_scope():
            tracked_persist(spark.range(5))
            raise RuntimeError("stage failed")
    assert persistent_rdd_ids(sc) <= before


def test_nested_scopes_release_innermost_only(spark):
    with cache_scope() as outer:
        a = tracked_persist(spark.range(7))
        with cache_scope() as inner:
            b = tracked_persist(spark.range(8))
            assert outer == [a] and inner == [b]
        assert not b.is_cached and a.is_cached
    assert not a.is_cached


def test_deprecated_release_frees_the_implicit_scope(spark):
    """Outside every scope a persist lands in the thread's implicit scope,
    which the deprecated release_cached_intermediates() frees."""
    got = {}

    def body():
        df = tracked_persist(spark.range(9))
        with pytest.warns(DeprecationWarning):
            got["released"] = release_cached_intermediates()
        got["cached"] = df.is_cached

    t = InheritableThread(target=body)
    t.start()
    t.join(120)
    assert not t.is_alive()
    assert got == {"released": 1, "cached": False}


def test_local_checkpoint_registers_its_plan_rdd(spark):
    """Exactly the checkpointed plan's LogicalRDD id is registered, and
    leaving the scope frees it but not an RDD that another thread
    persisted in the meantime."""
    sc = spark.sparkContext
    other: dict = {}

    def persist_elsewhere():
        other["df"] = spark.range(30).selectExpr("id + 1 AS w").persist()
        other["df"].count()

    with cache_scope() as held:
        before = persistent_rdd_ids(sc)
        out = local_checkpoint(spark.range(20).selectExpr("id % 3 AS k"))
        rid = out._jdf.queryExecution().analyzed().rdd().id()
        assert held == [rid]
        assert persistent_rdd_ids(sc) - before == {rid}
        t = InheritableThread(target=persist_elsewhere)
        t.start()
        t.join(120)
        assert not t.is_alive()
        theirs = persistent_rdd_ids(sc) - before - {rid}
        assert len(theirs) == 1
    try:
        assert rid not in persistent_rdd_ids(sc)
        assert theirs <= persistent_rdd_ids(sc)
        assert other["df"].is_cached
    finally:
        other["df"].unpersist(True)


def _cache_rdd_id(spark, df) -> int:
    """Id of the in-memory column-buffer RDD backing the cached ``df``."""
    cached = spark._jsparkSession.sharedState().cacheManager() \
        .lookupCachedData(df._jdf).get()
    return cached.cachedRepresentation().cacheBuilder() \
        .cachedColumnBuffers().id()


def test_two_threads_keep_their_own_caches(spark, duck, sf_dir):
    """Two registered queries that persist eagerly run at once on their
    own threads, each in its own scope. Once both caches are live,
    thread A leaves its scope first; every RDD of thread B's cache is
    still persistent afterwards, and both results match the oracle."""
    specs = all_queries()
    a_name, b_name = "x06_ngram_jaccard", "x33_token_rarity"
    both_live = threading.Barrier(2, timeout=300)
    a_left = threading.Event()
    out, errors, ids = {}, [], {}

    def run(name, body):
        try:
            with cache_scope() as held:
                out[name] = specs[name].fn(spark, sf_dir).toPandas()
                assert held, f"{name} registered nothing"
                body(held)
        except Exception as exc:  # surfaced by the main thread
            errors.append(exc)
            both_live.abort()
            a_left.set()

    def a_body(held):
        ids["a_live"] = {_cache_rdd_id(spark, df) for df in held}
        both_live.wait()

    def b_body(held):
        ids["b_live"] = {_cache_rdd_id(spark, df) for df in held}
        both_live.wait()
        assert a_left.wait(300)
        ids["after_a"] = persistent_rdd_ids(spark.sparkContext)

    def run_a():
        run(a_name, a_body)
        a_left.set()

    threads = [InheritableThread(target=run_a),
               InheritableThread(target=run, args=(b_name, b_body))]
    for t in threads:
        t.start()
    for t in threads:
        t.join(600)
        assert not t.is_alive()
    assert errors == []
    assert ids["b_live"] and ids["b_live"] <= ids["after_a"]
    assert not ids["a_live"] & ids["after_a"]
    assert not ids["b_live"] & persistent_rdd_ids(spark.sparkContext)
    for name in (a_name, b_name):
        assert_frames_match(out[name], duck.execute(specs[name].oracle)
                            .fetchdf(), name)
