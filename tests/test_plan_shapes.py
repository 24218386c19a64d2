"""Plan-shape pins for the scale-critical operators.

These tests freeze the STRUCTURE of the plans whose shape (not result)
is what makes them survive a 100 TB corpus — so a refactor that keeps
the answer but reintroduces an unbounded join fails CI, the same way
test_skew_and_bucketing pins the Exchange-free bucketed join.
"""

from __future__ import annotations

import pytest

from data_pipeline_foundations_spark.operators import cache_scope
from data_pipeline_foundations_spark.operators.dedup import (
    MAX_SHINGLE_DF, ngram_jaccard_pairs,
)
from data_pipeline_foundations_spark.tables import load


@pytest.fixture()
def docs(spark, sf_dir):
    return load(spark, sf_dir, "documents")


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_ngram_jaccard_self_join_is_rare_bounded(docs):
    """The x06 scale contract (VERDICT r1 #1): candidate generation must
    touch rare shingles only, and intersections must come from a bounded
    per-pair array_intersect — never an unrestricted shingle self-join."""
    with cache_scope():
        plan = _optimized(ngram_jaccard_pairs(docs))
    # exact intersections via per-candidate array_intersect
    assert "array_intersect" in plan
    # the df-cap filter appears on BOTH inputs of the candidate self-join
    # (the old formulation had it on one side only, as a broadcast-left
    # is_rare flag, leaving the other side unrestricted)
    assert plan.count(f"<= {MAX_SHINGLE_DF}") >= 2
    # the is_rare-flag formulation is gone: no outer join anywhere
    assert "LeftOuter" not in plan


def test_ngram_jaccard_releases_cache(spark, docs):
    with cache_scope() as held:
        ngram_jaccard_pairs(docs).count()
        assert len(held) >= 1
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == 0


def _executed(df) -> str:
    df.count()  # materialize so AQE finalizes the physical plan
    return df._jdf.queryExecution().executedPlan().toString()


def test_repetition_filters_are_scan_local(spark, sf_dir):
    """x22's contract: all three repetition stats are HOF expressions in
    ONE scan stage — no Exchange of any kind, no explode-shuffle."""
    from data_pipeline_foundations_spark.registry import all_queries
    plan = _executed(all_queries()["x22_repetition_filters"].fn(spark, sf_dir))
    assert "Exchange" not in plan


def test_pii_redaction_is_scan_local(spark, sf_dir):
    from data_pipeline_foundations_spark.registry import all_queries
    plan = _executed(all_queries()["x23_pii_redaction"].fn(spark, sf_dir))
    assert "Exchange" not in plan


def test_bm25_plan_broadcasts_and_takeordered(spark, sf_dir):
    """x24's contract: df table and corpus stats broadcast (never a
    shuffled join on term), top-k is TakeOrderedAndProject (never a global
    Sort), and the explode runs over the pruned hits array, not raw
    tokens."""
    from data_pipeline_foundations_spark.registry import all_queries
    df = all_queries()["x24_bm25_topk"].fn(spark, sf_dir)
    plan = _executed(df)
    assert plan.count("BroadcastExchange") >= 2
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "filter(" in opt and "explode" in opt.lower()


def test_embedding_quantize_is_map_only(spark, sf_dir):
    """x30's contract: quantization is a pure map pipeline — no hash
    exchange anywhere (the only allowed Exchange is scale_out's local
    round-robin parallelizer, a no-op on real multi-split layouts)."""
    from data_pipeline_foundations_spark.registry import all_queries
    plan = _executed(all_queries()["x30_embedding_quantize"].fn(spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan


def test_bigram_coherence_exchange_budget(spark, sf_dir):
    """x44's contract (same family as x33): the corpus's bigram stream
    shuffles on the bigram key at most twice (frequency aggregate +
    join-back — which AQE may instead satisfy by broadcasting the
    aggregate, the strictly better runtime choice at small scale), plus
    one per-doc rollup; never an unbounded extra text shuffle and never
    a nested-loop join."""
    import re

    from data_pipeline_foundations_spark.registry import all_queries
    plan = _executed(all_queries()["x44_bigram_coherence"].fn(spark, sf_dir))
    n_hash = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_hash <= 3, f"expected <=3 hash exchanges, saw {n_hash}"
    assert ("BroadcastHashJoin" in plan or "ReusedExchange" in plan
            or "SortMergeJoin" in plan)
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_source_overlap_is_shingle_bounded(spark, sf_dir):
    """x45's contract: the self-join keys on the shingle hash over the
    DISTINCT (shingle, source) projection — bounded exchanges of long
    keys (AQE may broadcast one side at small scale), and never a
    cartesian/nested-loop pair explosion. Budget is 5: the distinct
    shuffle building the persisted (source, shingle) table, one
    re-exchange on the shingle per join side (both now read the CACHE,
    not the corpus — the persist traded one extra long-key exchange for
    halving the scan+md5 work), and the final pair aggregate."""
    import re

    from data_pipeline_foundations_spark.registry import all_queries
    with cache_scope():
        plan = _executed(
            all_queries()["x45_source_overlap"].fn(spark, sf_dir))
    n_hash = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_hash <= 5, f"expected <=5 hash exchanges, saw {n_hash}"
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_boilerplate_exchange_budget(spark, sf_dir):
    """x43's contract: exactly the three long-keyed hash exchanges the
    docstring promises (df aggregate, flag join-back, per-doc reassembly)
    — a regression that re-explodes or re-shuffles text shows up as a
    fourth."""
    from pyspark.sql import functions as F

    from data_pipeline_foundations_spark.registry import all_queries
    with cache_scope():
        plan = _executed(
            all_queries()["x43_boilerplate_segments"].fn(spark, sf_dir))
    import re
    n_hash = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_hash <= 3, f"expected <=3 hash exchanges, saw {n_hash}"


def test_q03_broadcasts_selective_dim_and_pushes_dates(spark, sf_dir):
    """TPC-H Q3 shape (VERDICT r7 #3): the BUILDING-filtered customer
    side joins as a broadcast (never a fact-side shuffle for the dim),
    both date predicates reach the parquet scans, and the top-10 is
    TakeOrderedAndProject — no global sort, no cartesian."""
    import re

    from data_pipeline_foundations_spark.registry import all_queries
    df = all_queries()["q03_shipping_priority"].fn(spark, sf_dir)
    plan = _executed(df)
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    scans = re.findall(r"PushedFilters: \[[^\]]*\]", plan)
    assert any("c_mktsegment" in s for s in scans)
    assert any("o_orderdate" in s for s in scans)
    assert any("l_shipdate" in s for s in scans)


def test_q05_dim_chain_is_broadcast_end_to_end(spark, sf_dir):
    """TPC-H Q5 shape: region→nation→supplier is a broadcast chain (3+
    BroadcastHashJoins), the date range reaches the orders scan, and no
    cartesian product sneaks in despite the non-key c_nationkey =
    s_nationkey predicate riding the supplier join."""
    import re

    from data_pipeline_foundations_spark.registry import all_queries
    plan = _executed(all_queries()["q05_local_supplier_volume"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    scans = re.findall(r"PushedFilters: \[[^\]]*\]", plan)
    assert any("o_orderdate" in s for s in scans)
    assert any("r_name" in s for s in scans)


def test_q18_having_survivors_broadcast_into_orders(spark, sf_dir):
    """TPC-H Q18 shape: lineitem's per-order aggregate is the ONLY
    full-fact hash exchange before the joins; the HAVING-filtered
    survivor set joins orders/customer via broadcast (AQE sees the
    shrunken side), and the top-100 is TakeOrderedAndProject."""
    import re

    from data_pipeline_foundations_spark.registry import all_queries
    plan = _executed(all_queries()["q18_large_volume_customer"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    assert "BroadcastHashJoin" in plan
    n_hash = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_hash <= 2, f"expected <=2 hash exchanges, saw {n_hash}"


def test_q07_cross_leg_disjunction_stays_broadcast(spark, sf_dir):
    """TPC-H Q7 shape: both nation legs + supplier broadcast; the
    (n1,n2)-pair disjunction never degrades to a cartesian; the
    ship-date range reaches the lineitem scan."""
    import re

    from data_pipeline_foundations_spark.registry import all_queries
    plan = _executed(all_queries()["q07_volume_shipping"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    scans = re.findall(r"PushedFilters: \[[^\]]*\]", plan)
    assert any("l_shipdate" in s for s in scans)


def test_q10_filters_prune_both_fact_scans(spark, sf_dir):
    """TPC-H Q10 shape: the quarter filter reaches the orders scan AND
    the returnflag filter reaches the lineitem scan; top-20 is
    TakeOrderedAndProject."""
    import re

    from data_pipeline_foundations_spark.registry import all_queries
    plan = _executed(all_queries()["q10_returned_items"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    scans = re.findall(r"PushedFilters: \[[^\]]*\]", plan)
    assert any("o_orderdate" in s for s in scans)
    assert any("l_returnflag" in s for s in scans)


def test_q04_exists_plans_a_semi_join(spark, sf_dir):
    """TPC-H Q4 shape: the EXISTS gate is a LEFT SEMI hash join (never a
    distinct-then-inner rewrite), the quarter reaches the orders scan
    and the returnflag reaches the lineitem scan."""
    import re

    from data_pipeline_foundations_spark.registry import all_queries
    plan = _executed(all_queries()["q04_order_priority"].fn(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    scans = re.findall(r"PushedFilters: \[[^\]]*\]", plan)
    assert any("o_orderdate" in s for s in scans)
    assert any("l_returnflag" in s for s in scans)


def test_q13_outer_join_keeps_zero_order_customers(spark, sf_dir):
    """TPC-H Q13 shape: the priority exclusion rides the LEFT OUTER join
    (an inner join would drop the zero bucket), and the histogram plans
    at most three hash exchanges (join, per-customer count, tiny
    histogram)."""
    import re

    from data_pipeline_foundations_spark.registry import all_queries
    plan = _executed(
        all_queries()["q13_customer_distribution"].fn(spark, sf_dir))
    assert "LeftOuter" in plan or "BroadcastHashJoin" in plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    n_hash = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_hash <= 3, f"expected <=3 hash exchanges, saw {n_hash}"


def test_q14_single_pass_two_sums(spark, sf_dir):
    """TPC-H Q14 shape: both conditional sums ride ONE aggregate over
    the broadcast part join — a single scan of the month's lineitem, no
    second exchange beyond the scalar collapse."""
    import re

    from data_pipeline_foundations_spark.registry import all_queries
    plan = _executed(all_queries()["q14_promo_revenue"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    scans = re.findall(r"PushedFilters: \[[^\]]*\]", plan)
    assert any("l_shipdate" in s for s in scans)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 0


def test_q15_scalar_max_joins_hash_not_loop(spark, sf_dir):
    """TPC-H Q15 shape: the MAX-revenue scalar attaches via an EQUALITY
    hash join (a non-equi attach would be a nested loop) and supplier
    broadcasts."""
    from data_pipeline_foundations_spark.registry import all_queries
    plan = _executed(all_queries()["q15_top_supplier"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_q16_blacklist_is_broadcast_anti_join(spark, sf_dir):
    """TPC-H Q16 shape: the NOT IN supplier blacklist decorrelates to a
    broadcast LEFT ANTI join; the part slice prunes at its scan; the
    distinct-supplier count is the two-phase partial aggregate, never a
    global distinct."""
    import re

    from data_pipeline_foundations_spark.registry import all_queries
    plan = _executed(
        all_queries()["q16_supplier_part_count"].fn(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    scans = re.findall(r"PushedFilters: \[[^\]]*\]", plan)
    assert any("p_brand" in s or "p_size" in s for s in scans)


def test_q17_avg_subquery_restricted_before_aggregate(spark, sf_dir):
    """TPC-H Q17 shape: the brand's partkeys broadcast into lineitem
    BEFORE the per-part average (the literal decorrelation would
    aggregate the whole fact), and the join-back stays on the l_partkey
    exchange."""
    import re

    from data_pipeline_foundations_spark.registry import all_queries
    plan = _executed(
        all_queries()["q17_small_qty_revenue"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    n_hash = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_hash <= 2, f"expected <=2 hash exchanges, saw {n_hash}"


def test_q19_disjunction_derives_per_side_scan_filters(spark, sf_dir):
    """TPC-H Q19 shape: despite the cross-side OR, the join stays a hash
    join on the partkey equi-key and Catalyst derives implied per-side
    filters that reach BOTH parquet scans."""
    import re

    from data_pipeline_foundations_spark.registry import all_queries
    plan = _executed(
        all_queries()["q19_disjunctive_revenue"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    # line-bounded, not bracket-bounded: q19's OR-of-ANDs filter list is
    # long enough that the plan printer truncates it with "..." before
    # the closing bracket
    scans = re.findall(r"PushedFilters: \[[^\n]*", plan)
    assert any("p_brand" in s for s in scans)
    assert any("l_quantity" in s for s in scans)


def test_q22_anti_join_and_scalar_threshold(spark, sf_dir):
    """TPC-H Q22 shape: the dormancy NOT EXISTS is a keyed LEFT ANTI
    join with the date bound pushed to the orders scan; the scalar
    average attaches as the whitelisted single-row broadcast; the pool
    membership prunes at the customer scan."""
    import re

    from data_pipeline_foundations_spark.registry import all_queries
    plan = _executed(
        all_queries()["q22_global_sales_opportunity"].fn(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "Cartesian" not in plan
    scans = re.findall(r"PushedFilters: \[[^\]]*\]", plan)
    assert any("o_orderdate" in s for s in scans)
    assert any("c_nationkey" in s for s in scans)


def test_q06_is_a_pure_pruned_scan_aggregate(spark, sf_dir):
    """TPC-H Q6 shape: no join, ZERO exchanges beyond the scalar
    collapse, all three predicates pushed to the scan, and the scan
    reads only the four referenced columns."""
    import re

    from data_pipeline_foundations_spark.registry import all_queries
    plan = _executed(all_queries()["q06_forecast_revenue"].fn(spark, sf_dir))
    assert "Join" not in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 0
    scans = re.findall(r"PushedFilters: \[[^\n]*", plan)
    assert any("l_shipdate" in s and "l_discount" in s for s in scans)
    read = re.search(r"ReadSchema: struct<([^>]*)", plan).group(1)
    assert read.count(":") <= 4, f"scan reads too many columns: {read}"


def test_q02_min_cost_joins_back_by_equality_hash(spark, sf_dir):
    """TPC-H Q2 shape: the decorrelated MIN joins back via equality
    hash join on (partkey, exact-cents cost) — never a sort or loop —
    with the euro/part legs broadcast and top-100 as
    TakeOrderedAndProject."""
    from data_pipeline_foundations_spark.registry import all_queries
    plan = _executed(all_queries()["q02_min_cost_supplier"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan


def test_q08_share_rides_one_aggregate_pass(spark, sf_dir):
    """TPC-H Q8 shape: numerator and denominator are two exact-cents
    partials in ONE aggregate; all dimension legs broadcast; the
    order-date window reaches the orders scan."""
    import re

    from data_pipeline_foundations_spark.registry import all_queries
    plan = _executed(all_queries()["q08_market_share"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    scans = re.findall(r"PushedFilters: \[[^\n]*", plan)
    assert any("o_orderdate" in s for s in scans)
    assert any("p_type" in s for s in scans)


def test_q09_product_slice_broadcasts_before_fact_exchange(spark, sf_dir):
    """TPC-H Q9 shape: the LIKE-filtered part slice broadcasts into the
    fact before the orderkey exchange; supplier and nation broadcast;
    no cartesian despite the unfiltered fact."""
    from data_pipeline_foundations_spark.registry import all_queries
    plan = _executed(all_queries()["q09_product_profit"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_q11_nation_slice_prunes_fact_before_exchange(spark, sf_dir):
    """TPC-H Q11 shape: the nation's supplier slice is a broadcast
    LEFT SEMI into the lineitem scan (the fact never shuffles
    non-qualifying rows), and the grand total attaches as the
    whitelisted single-row broadcast."""
    import re

    from data_pipeline_foundations_spark.registry import all_queries
    plan = _executed(all_queries()["q11_important_parts"].fn(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "Cartesian" not in plan
    scans = re.findall(r"PushedFilters: \[[^\n]*", plan)
    assert any("s_nationkey" in s for s in scans)


def test_q11_grand_total_reuses_perpart_exchange(spark, sf_dir):
    """VERDICT r8 #3: the grand total is SUM over the per-part aggregate
    sharing the per-part branch's partkey exchange, so AQE's stage reuse
    serves the total from ONE fact scan at runtime (the old formulation
    recomputed the pruned-fact CTE twice, 2.98x growth per decade). The
    reuse only materializes in the FINAL adaptive plan, so this pin
    executes the query first — at sf0.01, because at sf0.001 the
    nation-9 slice yields zero qualifying rows and AQE's empty-relation
    propagation erases every exchange (vacuous pin)."""
    import os

    from data_pipeline_foundations_spark.registry import all_queries
    sf01 = "/root/testdata/sf0.01"
    if not os.path.isdir(sf01):
        pytest.skip("sf0.01 test data unavailable")
    df = all_queries()["q11_important_parts"].fn(spark, sf01)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert plan.count("ReusedExchange") >= 1


def test_q13_histogram_exchange_is_partial_agg_compressed(spark, sf_dir):
    """VERDICT r8 #6 audit pin: q13's second (tiny-key) aggregate must
    not re-shuffle the per-customer output wholesale. ReusedExchange
    can't apply (custkey vs c_count are different hash keys); the
    correct mechanism is a map-side PARTIAL count keyed on c_count
    sitting BELOW the c_count exchange, compressing the shuffle to
    ~|partitions|x|distinct c_count| rows."""
    import re

    from data_pipeline_foundations_spark.registry import all_queries
    plan = _executed(all_queries()["q13_customer_distribution"]
                     .fn(spark, sf_dir))
    m = re.search(
        r"Exchange hashpartitioning\(c_count[^\n]*\n"
        r"[^\n]*HashAggregate\(keys=\[c_count[^\n]*partial_count",
        plan)
    assert m, "c_count exchange must be fed by a partial aggregate"


def test_q12_lag_predicate_evaluates_post_join_only(spark, sf_dir):
    """TPC-H Q12 shape: the ship-year window reaches the lineitem scan,
    the cross-table 90-day lag stays a post-join filter (it cannot
    push), and both CASE counts ride one aggregate pass."""
    import re

    from data_pipeline_foundations_spark.registry import all_queries
    plan = _executed(all_queries()["q12_priority_shipping"].fn(spark, sf_dir))
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    scans = re.findall(r"PushedFilters: \[[^\n]*", plan)
    assert any("l_shipdate" in s for s in scans)


def test_q20_membership_chain_is_all_semi_joins(spark, sf_dir):
    """TPC-H Q20 shape: both IN-subqueries decorrelate to hash semi
    joins (part slice into the fact, heavy suppliers into the dim);
    the ship year and part type reach their scans; nothing
    materializes a distinct list."""
    import re

    from data_pipeline_foundations_spark.registry import all_queries
    plan = _executed(
        all_queries()["q20_excess_quantity_suppliers"].fn(spark, sf_dir))
    assert plan.count("LeftSemi") >= 2
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    scans = re.findall(r"PushedFilters: \[[^\n]*", plan)
    assert any("l_shipdate" in s for s in scans)
    assert any("p_type" in s for s in scans)


def test_q21_quantifiers_evaluate_as_minmax_aggregates(spark, sf_dir):
    """TPC-H Q21 shape (r9 rewrite after the 100x probe): both
    correlated quantifiers are per-order min/max supplier-key
    aggregates — NOT literal semi/anti joins, which Spark's
    PushDownLeftSemiAntiJoin rewrote into line-level SMJs against the
    FULL fact (3 fact scans, GC pressure at 100x) — and NOT
    countDistinct, whose expand plans a second fact exchange. The
    order-status and nation filters reach their scans; no per-row
    subquery or loop join anywhere."""
    import re

    from data_pipeline_foundations_spark.registry import all_queries
    plan = _executed(all_queries()["q21_waiting_suppliers"].fn(spark, sf_dir))
    assert "LeftSemi" not in plan and "LeftAnti" not in plan
    assert re.search(r"HashAggregate\(keys=\[l_orderkey[^\n]*partial_min", plan)
    assert "Expand" not in plan  # the countDistinct shape is banned
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    assert "TakeOrderedAndProject" in plan
    scans = re.findall(r"PushedFilters: \[[^\n]*", plan)
    assert any("o_orderstatus" in s for s in scans)
    assert any("n_name" in s for s in scans)


def test_x54_funnel_is_one_exchange_three_windows(spark, sf_dir):
    """x54's round-8 contract: the whole funnel — three chained
    conditional step-minimums AND the per-user collapse — rides ONE
    hash exchange on user_id (three stacked WindowExec nodes behind a
    single Exchange+Sort; the old 3-aggregate/2-join shape paid seven).
    A power user spills inside WindowExec, never on the driver."""
    from data_pipeline_foundations_spark.registry import all_queries
    plan = _executed(all_queries()["x54_conversion_funnel"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window [min(") == 3
    assert "SortMergeJoin" not in plan and "Cartesian" not in plan


def test_x53_survivor_stream_aggregates_once(spark, sf_dir):
    """x53's round-8 contract: exact membership is marked on the bloom
    survivor stream by ONE broadcast left join on the shingle, and one
    aggregate emits both counts — no second survivor pass, no doc_id
    join to stitch counts back (the old shape paid both)."""
    from data_pipeline_foundations_spark.registry import all_queries
    plan = _executed(
        all_queries()["x53_bloom_decontamination"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning(doc_id") == 1
    assert "SortMergeJoin" not in plan and "Cartesian" not in plan


def test_x67_has_no_roundrobin_repartition(spark, sf_dir):
    """x67's round-8 contract: the k-anonymity histogram is scan-bound
    (three column reads + an integer div per row), so it must NOT pay a
    round-robin redistribution exchange — parallelism at real scale
    comes from the file splits; the only exchange is the aggregate's."""
    from data_pipeline_foundations_spark.registry import all_queries
    plan = _executed(all_queries()["x67_k_anonymity"].fn(spark, sf_dir))
    assert "RoundRobinPartitioning" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_x43_chrome_set_broadcasts_to_flag_segments(spark, docs):
    """x43's round-8 contract: only fingerprints that cleared min_df
    (the chrome set — bounded by sites x chrome segments) move to flag
    segments, as the build side of a broadcast LEFT join; the segment
    TEXT shuffles exactly once, for per-document reassembly."""
    from data_pipeline_foundations_spark.operators.dedup import (
        remove_boilerplate_segments,
    )
    plan = _executed(remove_boilerplate_segments(docs))
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
    assert "SortMergeJoin" not in plan
