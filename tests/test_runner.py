"""DAG runner (SURVEY §7.1): ordering, per-stage isolation, blast radius.

The reference's run_etl.sh has no ``set -e`` — a failed extract still
lets the warehouse publish. These tests pin the fixed semantics: failed
stage → transitive dependents skipped (with the blocker named),
independent branches unaffected."""

from __future__ import annotations

import datetime as dt

import pytest

from data_pipeline_foundations_spark.runner import (
    FAILED, OK, SKIPPED, Stage, StageResult, reference_etl_dag, run_dag,
)

TS = dt.datetime
AS_OF = dt.datetime(2025, 7, 1, 12, 0, 0)


# ---------------------------------------------------------------------------
# run_dag semantics (synthetic stages)
# ---------------------------------------------------------------------------
def test_runs_in_dependency_order():
    seen = []

    def mk(name):
        return lambda r: seen.append(name) or name

    res = run_dag([
        Stage("c", mk("c"), deps=("b",)),
        Stage("a", mk("a")),
        Stage("b", mk("b"), deps=("a",)),
    ])
    assert seen == ["a", "b", "c"]
    assert all(r.status == OK for r in res.values())


def test_dep_results_are_passed():
    res = run_dag([
        Stage("a", lambda r: 21),
        Stage("b", lambda r: r["a"] * 2, deps=("a",)),
    ])
    assert res["b"].value == 42


def test_failure_skips_transitive_dependents_not_independents():
    def boom(r):
        raise RuntimeError("stage exploded")

    res = run_dag([
        Stage("a", boom),
        Stage("b", lambda r: "b", deps=("a",)),
        Stage("c", lambda r: "c", deps=("b",)),
        Stage("solo", lambda r: "solo"),
    ])
    assert res["a"].status == FAILED and "exploded" in str(res["a"].error)
    assert res["b"].status == SKIPPED and res["b"].blocked_by == ("a",)
    assert res["c"].status == SKIPPED and res["c"].blocked_by == ("b",)
    assert res["solo"].status == OK


def test_graph_bugs_raise():
    with pytest.raises(ValueError, match="duplicate"):
        run_dag([Stage("a", lambda r: 1), Stage("a", lambda r: 2)])
    with pytest.raises(ValueError, match="unknown"):
        run_dag([Stage("a", lambda r: 1, deps=("ghost",))])
    with pytest.raises(ValueError, match="cycle"):
        run_dag([Stage("a", lambda r: 1, deps=("b",)),
                 Stage("b", lambda r: 1, deps=("a",))])


# ---------------------------------------------------------------------------
# shared-output caching: a DataFrame with 2+ consumers is cached for the run
# ---------------------------------------------------------------------------
def _cache_is_empty(spark):
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture()
def empty_cache(spark):
    """Empty the shared session's cache manager first: other tests may
    leave cached intermediates behind, and these tests assert that a run
    leaves none of its own."""
    spark.catalog.clearCache()


@pytest.mark.usefixtures("empty_cache")
def test_shared_dataframe_cached_during_run_released_after(spark):
    seen = {}

    def consumer(name):
        def fn(r):
            seen[name] = r["src"].is_cached
            return r["src"].count()
        return fn

    res = run_dag([
        Stage("src", lambda r: spark.range(10)),
        Stage("a", consumer("a"), deps=("src",)),
        Stage("b", consumer("b"), deps=("src",)),
    ])
    assert seen == {"a": True, "b": True}
    assert res["a"].value == res["b"].value == 10
    assert not res["src"].value.is_cached
    assert _cache_is_empty(spark)


@pytest.mark.usefixtures("empty_cache")
def test_shared_dataframe_released_when_downstream_raises(spark):
    cached_at_failure = []

    def boom(r):
        cached_at_failure.append(r["src"].is_cached)
        raise RuntimeError("consumer exploded")

    res = run_dag([
        Stage("src", lambda r: spark.range(5)),
        Stage("ok", lambda r: r["src"].count(), deps=("src",)),
        Stage("bad", boom, deps=("src",)),
    ])
    assert res["bad"].status == FAILED and cached_at_failure == [True]
    assert not res["src"].value.is_cached
    assert _cache_is_empty(spark)


@pytest.mark.usefixtures("empty_cache")
def test_shared_dataframe_released_when_run_is_interrupted(spark):
    # a BaseException escapes run_dag's per-stage isolation; the finally
    # still releases the run's cache
    def interrupt(r):
        raise KeyboardInterrupt

    src, cached = [], []
    with pytest.raises(KeyboardInterrupt):
        run_dag([
            Stage("src", lambda r: src.append(spark.range(5)) or src[0]),
            Stage("a", lambda r: cached.append(r["src"].is_cached),
                  deps=("src",)),
            Stage("b", interrupt, deps=("src",)),
        ])
    assert cached == [True] and not src[0].is_cached
    assert _cache_is_empty(spark)


@pytest.mark.usefixtures("empty_cache")
def test_single_consumer_and_non_dataframe_values_not_persisted(spark):
    seen = {}

    def peek(name):
        def fn(r):
            seen[name] = {d: getattr(v, "is_cached", None)
                          for d, v in r.items()}
            return 0
        return fn

    res = run_dag([
        Stage("one", lambda r: spark.range(3)),
        Stage("num", lambda r: 7),
        Stage("x", peek("x"), deps=("one", "num")),
        Stage("y", peek("y"), deps=("num",)),
    ])
    assert seen == {"x": {"one": False, "num": None}, "y": {"num": None}}
    assert res["num"].value == 7
    assert _cache_is_empty(spark)


def test_stage_owned_cache_is_left_alone(spark):
    # a value the stage cached itself is the stage's to release
    own = spark.range(4).cache()
    try:
        run_dag([
            Stage("src", lambda r: own),
            Stage("a", lambda r: r["src"].count(), deps=("src",)),
            Stage("b", lambda r: r["src"].count(), deps=("src",)),
        ])
        assert own.is_cached
    finally:
        own.unpersist()


# ---------------------------------------------------------------------------
# reference ETL DAG over FIXTURES-shaped inputs
# ---------------------------------------------------------------------------
@pytest.fixture()
def etl_inputs(spark, loan_inputs):
    mk = spark.createDataFrame
    full = dict(loan_inputs)
    full["raw_strategies"] = mk(
        [(3, TS(2025, 3, 12), 11, False), (5, TS(2025, 2, 20), 13, False)],
        schema="UserLoanId long, CreatedAt timestamp, Strategy int, IsDeleted boolean")
    # the arcus PIPELINE needs the full transaction schema (the loan
    # pipeline's channel aggs only need a slice, so conftest keeps it thin)
    full["arcus_transactions"] = mk(
        [(1, "e1", "r1", "c1", "d", 10.0, TS(2025, 6, 2, 5), TS(2025, 6, 2, 6),
          TS(2025, 6, 2, 7), 1, 0, "an", "ai", "nm", "tr", None)],
        schema=("ArcusTransactionId long, ExternalId string, Reference string, "
                "ArcusCustomerId string, Description string, Amount double, "
                "CreatedAt timestamp, ModifiedAt timestamp, CompletedAt timestamp, "
                "Status int, TransactionDirection int, ExternalAccountNumber string, "
                "ExternalAccountIdentifier string, ExternalAccountName string, "
                "TrackingId string, FailureCode string"))
    full["unallocated_payment_arcus_transactions"] = mk(
        [(1,)], schema="ArcusTransactionId long")
    full["facebook_raw"] = mk(
        [("Jan 5, 2025", "facebook", "ad-1", "1,234", "$12.50")],
        schema=("`Install Day` string, `Media Source` string, `Ad` string, "
                "`Impressions (sum)` string, `Cost (sum)` string"))
    return full


@pytest.mark.usefixtures("empty_cache")
def test_reference_dag_all_green(spark, etl_inputs):
    published, cached = {}, {}

    def sink(name, df):
        cached[name] = df.is_cached
        published[name] = df.count()

    res = run_dag(reference_etl_dag(spark, etl_inputs, as_of=AS_OF,
                                    sink=sink))
    assert {n: r.status for n, r in res.items()} == {
        n: OK for n in res}, {n: r.error for n, r in res.items()
                              if r.status == FAILED}
    assert len(published) == 7
    assert published["calendar"] > 0
    # loan 6 (DisbursementFailed) is excluded: 7 fixture loans → 6 fact rows
    assert published["loan_detail"] == 6
    # loan_detail feeds accounting_detail and publish, so the run cached
    # it (accounting_detail too, for its three reports) and released both
    assert cached == {n: n == "loan_detail" for n in published}
    assert _cache_is_empty(spark)


def test_reference_dag_blast_radius(spark, etl_inputs):
    # poison the strategies input: its stage fails at construction time
    bad = dict(etl_inputs)
    del bad["raw_strategies"]
    res = run_dag(reference_etl_dag(spark, bad, as_of=AS_OF))
    assert res["collections_strategies"].status == FAILED
    assert res["loan_detail"].status == SKIPPED
    assert res["accounting_summary"].status == SKIPPED
    # independent branches survive
    assert res["calendar"].status == OK
    assert res["arcus_transactions"].status == OK
    assert res["growth_facebook"].status == OK
