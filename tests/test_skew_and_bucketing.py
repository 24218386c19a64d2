"""Skew mitigation (salted join / salted agg) and bucketed co-located
joins: results match the unsalted/unbucketed equivalents, and the
bucketed join plan has no shuffle."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_pipeline_foundations_spark.operators.skew import (
    salted_agg_sum, salted_join,
)
from data_pipeline_foundations_spark.sources.warehouse import build_bucketed

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture()
def skewed(spark):
    # 10k rows of hot key 1 + uniform tail: the shape AQE sees as one
    # oversized partition
    hot = spark.range(10_000).select(F.lit(1).alias("k"), F.col("id").alias("v"))
    tail = spark.range(1_000).select((F.col("id") % 50 + 2).alias("k"),
                                     F.col("id").alias("v"))
    return hot.unionByName(tail)


def test_salted_join_matches_plain(spark, skewed):
    dim = spark.range(60).select(F.col("id").alias("k"),
                                 F.concat(F.lit("n"), F.col("id")).alias("name"))
    plain = skewed.join(dim, "k").groupBy("k", "name").count()
    salted = salted_join(skewed, dim, "k").groupBy("k", "name").count()
    assert sorted(plain.collect()) == sorted(salted.collect())


def test_salted_join_left(spark, skewed):
    dim = spark.range(5).select(F.col("id").alias("k"), F.lit("x").alias("name"))
    plain = skewed.join(dim, "k", "left")
    salted = salted_join(skewed, dim, "k", how="left")
    assert plain.count() == salted.count()
    assert (plain.filter("name IS NULL").count()
            == salted.filter("name IS NULL").count())


def test_salted_agg_matches_plain(spark, skewed):
    plain = {r.k: r.s for r in
             skewed.groupBy("k").agg(F.sum("v").alias("s")).collect()}
    salted = {r.k: r.s for r in
              salted_agg_sum(skewed, "k", "v", out="s").collect()}
    assert plain == salted


def test_bucketed_join_has_no_shuffle(spark):
    build_bucketed(spark, f"{SF_DIR}/orders.parquet", "b_orders",
                   bucket_col="o_orderkey", n_buckets=8)
    build_bucketed(spark, f"{SF_DIR}/lineitem.parquet", "b_lineitem",
                   bucket_col="l_orderkey", n_buckets=8)
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = (spark.table("b_orders")
                 .join(spark.table("b_lineitem"),
                       F.col("o_orderkey") == F.col("l_orderkey"))
                 .groupBy("o_orderkey").count())
            n = j.count()
            assert n > 0
            plan = j._jdf.queryExecution().executedPlan().toString()
            # co-located: no Exchange feeds the join (the only shuffle
            # allowed is none — bucketed scan satisfies the distribution)
            assert "Exchange hashpartitioning" not in plan, plan[:2000]
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_salted_join_rejects_outer_joins(spark, skewed):
    dim = spark.range(5).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="inner.*left"):
        salted_join(skewed, dim, "k", how="right")
    with pytest.raises(ValueError, match="inner.*left"):
        salted_join(skewed, dim, "k", how="full")


def test_q18_bucketed_twin_fact_side_exchange_free(spark):
    """The 100 TB layout answer for q18 (plans/relational.py): with
    lineitem AND orders bucketed by order key, the per-order quantity
    aggregate and the survivor⋈orders join need NO exchange — the
    bucketed scans already satisfy both distributions. The only
    shuffles left in the whole query key on the customer side. Result
    must equal the registered q18 row-for-row."""
    from data_pipeline_foundations_spark.registry import all_queries

    build_bucketed(spark, f"{SF_DIR}/orders.parquet", "bq_orders",
                   bucket_col="o_orderkey", n_buckets=8)
    build_bucketed(spark, f"{SF_DIR}/lineitem.parquet", "bq_lineitem",
                   bucket_col="l_orderkey", n_buckets=8)
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            from data_pipeline_foundations_spark.functions.money import (
                sum_money,
            )
            from data_pipeline_foundations_spark.tables import load

            li = spark.table("bq_lineitem")
            o = spark.table("bq_orders")
            c = load(spark, SF_DIR, "customer")
            big = (li.groupBy("l_orderkey")
                   .agg(sum_money("l_quantity").alias("sum_qty"))
                   .filter(F.col("sum_qty") > 200.0))
            twin = (big.join(o, o.o_orderkey == big.l_orderkey)
                    .join(c, c.c_custkey == o.o_custkey)
                    .select("c_name", "c_custkey", "o_orderkey",
                            "o_orderdate", "o_totalprice", "sum_qty")
                    .orderBy(F.col("o_totalprice").desc(),
                             F.col("o_orderdate").asc(),
                             F.col("o_orderkey").asc())
                    .limit(100))
            got = twin.collect()
            plan = twin._jdf.queryExecution().executedPlan().toString()
            assert "hashpartitioning(l_orderkey" not in plan, plan[:2000]
            assert "hashpartitioning(o_orderkey" not in plan, plan[:2000]
            want = all_queries()["q18_large_volume_customer"] \
                .fn(spark, SF_DIR).collect()
            assert [tuple(r) for r in got] == [tuple(r) for r in want]
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS bq_orders")
        spark.sql("DROP TABLE IF EXISTS bq_lineitem")


def test_q21_bucketed_twin_fact_side_exchange_free(spark):
    """The 100 TB layout answer for q21 (plans/relational.py): with
    lineitem AND orders bucketed by order key, EVERY fact-side stage of
    the min/max-aggregate formulation — the late-set build
    (lineitem⋈orders), both per-order quantifier aggregates, and both
    join-backs — is satisfied by the bucketed scans' distribution,
    leaving no orderkey exchange anywhere in the plan; the only shuffle
    left is the dimension-sized s_name aggregate. Result must equal
    the registered q21 row-for-row."""
    from data_pipeline_foundations_spark.registry import all_queries

    build_bucketed(spark, f"{SF_DIR}/orders.parquet", "bq21_orders",
                   bucket_col="o_orderkey", n_buckets=8)
    build_bucketed(spark, f"{SF_DIR}/lineitem.parquet", "bq21_lineitem",
                   bucket_col="l_orderkey", n_buckets=8)
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            from data_pipeline_foundations_spark.tables import load

            li = spark.table("bq21_lineitem")
            o_f = (spark.table("bq21_orders")
                   .filter(F.col("o_orderstatus") == "F")
                   .select("o_orderkey", "o_orderdate"))
            late = (li.filter(F.col("l_suppkey").isNotNull())
                    .join(o_f, li.l_orderkey == F.col("o_orderkey"))
                    .filter(F.col("l_shipdate") > F.col("o_orderdate")
                            + F.expr("INTERVAL 60 DAYS"))
                    .select("l_orderkey", "l_suppkey"))
            n = load(spark, SF_DIR, "nation").filter(
                F.col("n_name") == "NATION_2")
            sup = (load(spark, SF_DIR, "supplier")
                   .join(F.broadcast(n),
                         F.col("s_nationkey") == n.n_nationkey)
                   .select("s_suppkey", "s_name"))
            n_all = (li.groupBy(F.col("l_orderkey").alias("a_orderkey"))
                     .agg(F.min("l_suppkey").alias("a_min"),
                          F.max("l_suppkey").alias("a_max")))
            n_late = (late.groupBy(F.col("l_orderkey").alias("b_orderkey"))
                      .agg(F.min("l_suppkey").alias("b_min"),
                           F.max("l_suppkey").alias("b_max")))
            twin = (
                late.join(F.broadcast(sup),
                          F.col("l_suppkey") == F.col("s_suppkey"))
                .join(n_late, F.col("l_orderkey") == F.col("b_orderkey"))
                .filter(F.col("b_min") == F.col("b_max"))
                .join(n_all, F.col("l_orderkey") == F.col("a_orderkey"))
                .filter(F.col("a_min") != F.col("a_max"))
                .groupBy("s_name")
                .agg(F.count(F.lit(1)).alias("numwait"))
                .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
                .limit(100))
            got = twin.collect()
            plan = twin._jdf.queryExecution().executedPlan().toString()
            assert "hashpartitioning(l_orderkey" not in plan, plan[:2000]
            assert "hashpartitioning(o_orderkey" not in plan, plan[:2000]
            assert "hashpartitioning(a_orderkey" not in plan, plan[:2000]
            assert "hashpartitioning(b_orderkey" not in plan, plan[:2000]
            want = all_queries()["q21_waiting_suppliers"] \
                .fn(spark, SF_DIR).collect()
            assert [tuple(r) for r in got] == [tuple(r) for r in want]
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS bq21_orders")
        spark.sql("DROP TABLE IF EXISTS bq21_lineitem")


def test_partitioned_layout_gets_dynamic_partition_pruning(spark):
    """The third 100 TB layout lever next to bucketing and compaction:
    a fact written with partitionBy(month) must let Catalyst prune
    partitions at RUNTIME
    from a selective dim filter — the dim's surviving join keys become
    a dynamicpruningexpression partition filter on the fact scan, so a
    two-month query reads two directories of a 100 TB table instead of
    all of them. Result pinned equal to the unpartitioned join."""
    li = (spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
          .withColumn("ship_month",
                      F.date_format("l_shipdate", "yyyy-MM")))
    (li.write.mode("overwrite").format("parquet")
     .partitionBy("ship_month").saveAsTable("dpp_lineitem"))
    months = (li.select("ship_month").distinct()
              .withColumn("quarter",
                          F.concat(F.substring("ship_month", 1, 4),
                                   F.lit("-Q"),
                                   ((F.substring("ship_month", 6, 2)
                                     .cast("int") - 1) / 3 + 1)
                                   .cast("int"))))
    pick = months.orderBy("ship_month").limit(1).collect()[0]["quarter"]
    try:
        dim = spark.table("dpp_lineitem").sparkSession.createDataFrame(
            months.collect(), months.schema).filter(F.col("quarter") == pick)
        fact = spark.table("dpp_lineitem")
        res = (fact.join(dim, "ship_month")
               .groupBy("quarter")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum("l_quantity").alias("qty")))
        plan = res._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan[:3000]
        got = sorted(map(tuple, res.collect()))
        want = sorted(map(tuple,
                          (li.join(dim, "ship_month").groupBy("quarter")
                           .agg(F.count(F.lit(1)).alias("n"),
                                F.sum("l_quantity").alias("qty"))).collect()))
        assert got == want and len(got) == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS dpp_lineitem")
