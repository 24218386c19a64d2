"""Incremental dedup against the persisted bucketed fingerprint store:
state accumulates across batches, survivors are exact, and the probe
against the store reads the bucketed layout without re-shuffling it.
Differential coverage of the pure two-frame form is the x28 oracle row.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_pipeline_foundations_spark.operators.caching import cache_scope
from data_pipeline_foundations_spark.operators.dedup import (
    dedup_against_store, incremental_dedup,
)


def _batch(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_store_accumulates_across_batches(spark):
    spark.sql("DROP TABLE IF EXISTS fp_store_t1")
    try:
        b1 = _batch(spark, [(1, "alpha beta"), (2, "gamma delta"),
                            (3, "alpha  BETA")])   # 3 normalizes like 1
        with cache_scope():
            s1 = dedup_against_store(spark, b1, "fp_store_t1")
            assert {r.doc_id for r in s1.collect()} == {1, 2}

        # batch 2: one dup-of-history, one within-batch dup pair, one new
        b2 = _batch(spark, [(10, "alpha beta"), (11, "epsilon zeta"),
                            (12, "epsilon  ZETA"), (13, "eta theta")])
        with cache_scope():
            s2 = dedup_against_store(spark, b2, "fp_store_t1")
            assert {r.doc_id for r in s2.collect()} == {11, 13}

        # store now holds 4 distinct fingerprints
        assert spark.table("fp_store_t1").distinct().count() == 4
        # batch 3: everything already seen → nothing survives
        with cache_scope():
            s3 = dedup_against_store(
                spark, _batch(spark, [(20, "eta theta"),
                                      (21, "gamma delta")]),
                "fp_store_t1")
            assert s3.count() == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS fp_store_t1")


def test_probe_does_not_reshuffle_store(spark):
    """The scale contract: the history side of the anti-join is read
    through its bucketed layout (no Exchange feeds it); only the new
    batch exchanges. One hashpartitioning Exchange total."""
    spark.sql("DROP TABLE IF EXISTS fp_store_t2")
    try:
        # bucket count == shuffle partitions: the window's fp-exchange
        # then satisfies the join's distribution directly (the documented
        # sizing discipline — n_buckets to the cluster's parallelism)
        nb = int(spark.conf.get("spark.sql.shuffle.partitions"))
        seed = _batch(spark, [(i, f"doc number {i}") for i in range(50)])
        with cache_scope():
            dedup_against_store(spark, seed, "fp_store_t2", n_buckets=nb)

        batch = _batch(spark, [(100 + i, f"probe doc {i}") for i in range(20)])
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            out = incremental_dedup(batch, spark.table("fp_store_t2"))
            assert out.count() == 20
            plan = out._jdf.queryExecution().executedPlan().toString()
            n_exchanges = plan.count("Exchange hashpartitioning")
            # one exchange: the batch's window-on-fp shuffle, reused by
            # the anti-join; the bucketed store side contributes NONE
            assert "SelectedBucketsCount" in plan, plan[:2000]
            assert n_exchanges <= 1, plan[:3000]
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS fp_store_t2")


def test_versioned_store_atomic_visibility(spark, tmp_path):
    """VERDICT r4 task #6: the versioned fingerprint store commits each
    batch's accepted fps as one snapshot version; readers (and the next
    batch) resolve COMMITTED versions only, so an in-progress or crashed
    write is invisible until its _SUCCESS marker lands."""
    import os

    from data_pipeline_foundations_spark.operators.dedup import (
        dedup_against_versioned_store,
    )
    from data_pipeline_foundations_spark.sources.warehouse import (
        list_versions, squash_versioned,
    )
    root = str(tmp_path / "fp_versions")

    b1 = _batch(spark, [(1, "alpha beta"), (2, "gamma delta"),
                        (3, "alpha  BETA")])
    with cache_scope():
        s1 = dedup_against_versioned_store(spark, b1, root)
        assert {r.doc_id for r in s1.collect()} == {1, 2}
    assert len(list_versions(spark, root)) == 1

    # Simulate a concurrent writer mid-crash: a version directory with
    # data files but NO _SUCCESS marker. It must be invisible — to
    # list_versions, and to the next batch's history resolution.
    orphan = os.path.join(root, "v_00000007")
    (spark.createDataFrame([(999999,)], "fp long")
     .write.mode("overwrite").parquet(orphan))
    os.remove(os.path.join(orphan, "_SUCCESS"))
    assert len(list_versions(spark, root)) == 1

    # batch 2 races the "crashed" write: dup-of-history dropped, new
    # rows survive, and the orphan's bogus fp plays no part
    b2 = _batch(spark, [(10, "alpha beta"), (11, "epsilon zeta"),
                        (13, "eta theta")])
    with cache_scope():
        s2 = dedup_against_versioned_store(spark, b2, root)
        assert {r.doc_id for r in s2.collect()} == {11, 13}
    # numbering continues from the last COMMITTED version; the orphan
    # stays an ignored dead directory
    assert [v for v, _ in list_versions(spark, root)] == [1, 2]

    # batch 3: everything seen across BOTH committed versions
    with cache_scope():
        s3 = dedup_against_versioned_store(
            spark, _batch(spark, [(20, "eta theta"), (21, "gamma delta")]),
            root)
        assert s3.count() == 0

    # squash preserves membership (delta-union semantics), then a
    # re-probe of the squashed store still rejects everything seen
    squash_versioned(spark, root, distinct=True, keep_versions=2)
    with cache_scope():
        s4 = dedup_against_versioned_store(
            spark, _batch(spark, [(30, "alpha beta"), (31, "epsilon zeta")]),
            root)
        assert s4.count() == 0
