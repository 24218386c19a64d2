"""Pins for the r14 optimization-round internals.

r14 converts the pl01/pl02/u01 money-expression webs from per-node
Column construction (one Py4J round trip per expression node — hundreds
per invocation) to batched ``selectExpr``/``F.expr`` SQL-string parses
(VERDICT r13 next #1; the r13 shingle-tree conversion is the template).
Each test pins that the new construction canonicalizes to the SAME
Catalyst plan as the old Column form (``sameResult`` over the optimized
plans), so the conversion can never silently change WHAT is computed —
only how the plan is built.

The old forms below are the r13 implementations, verbatim.
"""

from __future__ import annotations

import datetime as dt
import importlib

from pyspark.sql import functions as F


def _same(new_df, old_df, msg):
    assert new_df._jdf.queryExecution().optimizedPlan().sameResult(
        old_df._jdf.queryExecution().optimizedPlan()), msg


# ---------------------------------------------------------------------------
# settlement_pipeline (pl01 / pl02's shared chain) — pre-r14 Column form
# ---------------------------------------------------------------------------
def _old_settlement_pipeline(o, li, *, cust_in_li=False,
                             with_accounting_cols=False):
    """The r13 Column-by-Column construction, verbatim."""
    from data_pipeline_foundations_spark.functions.money import (
        round2, scaled_long,
    )
    from data_pipeline_foundations_spark.plans.pipelines import _PL01_AS_OF

    amt = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    amt_cents = scaled_long(amt, 100.0)

    def chan_sum(flag):
        return (F.sum(F.when(F.col("l_returnflag") == flag, amt_cents))
                / F.lit(100.0))

    def chan_last(flag):
        return F.max(F.when(F.col("l_returnflag") == flag,
                            F.col("l_shipdate")))

    grp = ["l_custkey", "l_orderkey"] if cust_in_li else ["l_orderkey"]
    aggs = (li.groupBy(*grp).agg(
        chan_sum("A").alias("paid_a"), chan_last("A").alias("last_paid_a"),
        chan_sum("N").alias("paid_n"), chan_last("N").alias("last_paid_n"),
        chan_sum("R").alias("paid_r"), chan_last("R").alias("last_paid_r"),
        (F.sum(F.when(F.col("l_returnflag") == "R",
                      F.when(F.col("l_linestatus") == "O", amt_cents)
                      .otherwise(F.lit(0).cast("long"))))
         / F.lit(100.0)).alias("disputed"),
    ))

    cond = (o.o_orderkey == aggs.l_orderkey)
    if cust_in_li:
        cond = cond & (o.o_custkey == aggs.l_custkey)
    j = (o.join(aggs, cond, "left")
         .select(
             F.col("o_orderkey").alias("loan_id"),
             F.col("o_custkey").alias("customer_id"),
             "o_orderstatus", "o_orderdate",
             F.coalesce("paid_a", F.lit(0.0)).alias("paid_a"),
             F.coalesce("paid_n", F.lit(0.0)).alias("paid_n"),
             F.coalesce("paid_r", F.lit(0.0)).alias("paid_r"),
             F.coalesce("disputed", F.lit(0.0)).alias("disputed"),
             F.greatest("last_paid_a", "last_paid_n",
                        "last_paid_r").alias("last_paid_at"),
             round2(F.col("o_totalprice") * 0.70).alias("principal"),
             round2(F.col("o_totalprice") * 0.20).alias("fee"),
             F.when(F.col("o_orderstatus") == "F",
                    round2(F.col("o_totalprice") * 0.05))
             .otherwise(0.0).alias("late_fee"),
         ))

    tax_on_fee = round2(F.col("fee") * 0.16)
    tax_on_late = round2(F.col("late_fee") * 0.16)
    total_paid = round2(F.col("paid_a") + F.col("paid_n") + F.col("paid_r")
                        - F.col("disputed"))
    j = j.withColumns({
        "tax_on_fee": tax_on_fee,
        "tax_on_late_fee": tax_on_late,
        "total_paid": total_paid,
    })
    total_due = (F.col("principal") + F.col("fee") + F.col("tax_on_fee")
                 + F.col("late_fee") + F.col("tax_on_late_fee"))
    j = j.withColumns({
        "total_due": total_due,
        "amount_paid": F.when(
            (F.col("o_orderstatus") == "F")
            & ((total_due - F.col("total_paid")) >= 0.0)
            & ((total_due - F.col("total_paid")) <= 1.0),
            total_due).otherwise(F.col("total_paid")),
    })
    alloc = F.least(F.col("amount_paid"), F.col("total_due"))
    j = j.withColumn("to_allocate", alloc)
    lf_due = F.col("late_fee") + F.col("tax_on_late_fee")
    j = j.withColumns({
        "late_fee_paid": F.when(F.col("to_allocate") >= lf_due,
                                F.col("late_fee"))
                          .otherwise(round2(F.col("to_allocate") / 1.16)),
        "rem1": F.when(F.col("to_allocate") >= lf_due,
                       F.col("to_allocate") - lf_due).otherwise(F.lit(0.0)),
    })
    fee_due = F.col("fee") + F.col("tax_on_fee")
    j = j.withColumns({
        "fee_paid": F.when(F.col("rem1") >= fee_due, F.col("fee"))
                     .otherwise(round2(F.col("rem1") / 1.16)),
        "rem2": F.when(F.col("rem1") >= fee_due,
                       F.col("rem1") - fee_due).otherwise(F.lit(0.0)),
    })
    j = j.withColumn("principal_paid",
                     round2(F.least(F.col("rem2"), F.col("principal"))))
    j = j.withColumn("settled_at",
                     F.when(F.col("principal_paid") >= F.col("principal"),
                            F.col("last_paid_at")))

    from pyspark.sql import Window as W
    w = W.partitionBy("customer_id").orderBy("o_orderdate", "loan_id")
    ln = F.row_number().over(w)
    due_date = F.to_date(F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
    end_date = F.when(F.col("settled_at").isNotNull(),
                      F.to_date("settled_at")) \
                .otherwise(F.to_date(F.lit(_PL01_AS_OF)))
    cols = [
        "loan_id", "customer_id",
        F.when(F.col("o_orderstatus") == "F", "Fulfilled")
         .when(F.col("o_orderstatus") == "O", "Open")
         .when(F.col("o_orderstatus") == "P", "Pending")
         .otherwise("Unknown").alias("status"),
        ln.cast("int").alias("loan_number"),
        F.when(ln == 1, "First").otherwise("Repeat").alias("cohort"),
        "principal", "fee", "late_fee",
        round2(F.col("total_due")).alias("total_due"),
        "total_paid", "late_fee_paid", "fee_paid", "principal_paid",
        "last_paid_at", "settled_at",
        F.col("settled_at").isNotNull().alias("is_settled"),
        F.greatest(F.datediff(end_date, due_date),
                   F.lit(0)).cast("long").alias("days_late"),
    ]
    if with_accounting_cols:
        cols += [
            F.col("o_orderdate").alias("issue_date"),
            "tax_on_fee", "tax_on_late_fee",
            F.col("disputed").alias("dispute_amount"),
        ]
    return j.select(*cols)


def test_settlement_pipeline_selectexpr_same_plan(spark, sf_dir):
    """New selectExpr form == old Column form, all three shapes."""
    from data_pipeline_foundations_spark.plans.pipelines import (
        settlement_pipeline,
    )
    from data_pipeline_foundations_spark.tables import load

    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    for acc in (False, True):
        _same(settlement_pipeline(o, li, with_accounting_cols=acc),
              _old_settlement_pipeline(o, li, with_accounting_cols=acc),
              f"settlement_pipeline drift (with_accounting_cols={acc})")
    li_d = li.join(o.select(F.col("o_orderkey").alias("l_orderkey"),
                            F.col("o_custkey").alias("l_custkey")),
                   "l_orderkey")
    _same(settlement_pipeline(o, li_d, cust_in_li=True),
          _old_settlement_pipeline(o, li_d, cust_in_li=True),
          "settlement_pipeline drift (cust_in_li=True)")


# ---------------------------------------------------------------------------
# waterfall_columns — pre-r14 Column form
# ---------------------------------------------------------------------------
def _old_bucket(remaining, amount, tax, rnd):
    """The retired Column form of operators.waterfall's bucket, verbatim."""
    total_due = amount + tax
    full = remaining >= total_due
    part_amount = rnd(remaining / 1.16)
    amount_paid = F.when(full, amount).otherwise(part_amount)
    tax_paid = F.when(full, tax).otherwise(rnd(remaining - part_amount))
    remaining_after = F.when(full, remaining - total_due).otherwise(F.lit(0.0))
    return amount_paid, tax_paid, remaining_after


def _old_waterfall_columns(df, *, principal="principal", fee="fee",
                           late_fee="late_fee", amount_paid="amount_paid",
                           half_even=False):
    """The r13 Column construction, verbatim."""
    from data_pipeline_foundations_spark.functions.money import round2

    _bucket = _old_bucket
    rnd = (lambda x: F.bround(x, 2)) if half_even else round2
    p, f_, lf = F.col(principal), F.col(fee), F.col(late_fee)
    tax_on_fee = rnd(f_ * 0.16)
    tax_on_late = rnd(lf * 0.16)
    total_due = p + f_ + tax_on_fee + lf + tax_on_late
    alloc = F.least(F.col(amount_paid), total_due)

    lf_paid, lf_tax_paid, rem1 = _bucket(alloc, lf, tax_on_late, rnd)
    fee_paid, fee_tax_paid, rem2 = _bucket(rem1, f_, tax_on_fee, rnd)
    principal_paid = F.least(rem2, p)

    return df.select(
        "*",
        tax_on_fee.alias("tax_on_fee"),
        tax_on_late.alias("tax_on_late_fee"),
        rnd(total_due).alias("total_due"),
        lf_paid.alias("late_fee_paid"),
        lf_tax_paid.alias("tax_on_late_fee_paid"),
        fee_paid.alias("fee_paid"),
        fee_tax_paid.alias("tax_on_fee_paid"),
        rnd(principal_paid).alias("principal_paid"),
    )


def test_waterfall_columns_selectexpr_same_plan(spark):
    """New one-parse form == old Column form, both rounding modes."""
    from data_pipeline_foundations_spark.operators.waterfall import (
        waterfall_columns,
    )

    base = spark.createDataFrame(
        [(1, 700.0, 200.0, 50.0, 900.0)],
        "loan_id long, principal double, fee double, late_fee double, "
        "amount_paid double")
    for he in (False, True):
        _same(waterfall_columns(base, half_even=he),
              _old_waterfall_columns(base, half_even=he),
              f"waterfall_columns drift (half_even={he})")


# ---------------------------------------------------------------------------
# loan_detail's waterfall step — the retired Column form
# ---------------------------------------------------------------------------
def _old_apportion(r):
    """loan_detail's Column-form waterfall, verbatim."""
    _bucket = _old_bucket
    rnd = lambda x: F.bround(x, 2)  # noqa: E731
    alloc = F.least(F.col("TotalAmountPaid"), F.col("TotalAmountDue"))
    lf_paid, lf_tax_paid, rem1 = _bucket(alloc, F.col("LateFee"), F.col("TaxOnLateFee"), rnd)
    r = r.withColumns({"LateFeePaid": lf_paid, "TaxOnLateFeePaid": lf_tax_paid,
                       "_rem1": rem1})
    fee_paid, fee_tax_paid, rem2 = _bucket(F.col("_rem1"), F.col("Fee"), F.col("TaxOnFee"), rnd)
    return (r.withColumns({"FeePaid": fee_paid, "TaxOnFeePaid": fee_tax_paid,
                           "_rem2": rem2})
            .withColumn("PrincipalPaid", F.least(F.col("_rem2"), F.col("PrincipalAmount")))
            .drop("_rem1", "_rem2"))


def test_loan_detail_selectexpr_same_plan(spark, loan_inputs, monkeypatch):
    """Whole-loan_detail pin: the one-parse waterfall == the Column form.

    The Column form materializes the first bucket's remainder as a
    ``_rem1`` column that the second bucket reads; the one-parse form
    inlines it. CollapseProject keeps a multiply-referenced CASE in its
    own Project, so the pin has the optimizer inline always — then both
    forms must reduce to the same expressions over the same plan."""
    # the package re-exports the function under the module's name
    ld = importlib.import_module(
        "data_pipeline_foundations_spark.pipelines.loan_detail")
    as_of = dt.datetime(2025, 7, 1, 12, 0, 0)
    new = ld.loan_detail(loan_inputs, as_of=as_of)
    monkeypatch.setattr(ld, "_apportion", _old_apportion)
    old = ld.loan_detail(loan_inputs, as_of=as_of)
    assert new.columns == old.columns
    key = "spark.sql.optimizer.collapseProjectAlwaysInline"
    prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        _same(new, old, "loan_detail drift")
    finally:
        spark.conf.set(key, prev)


# ---------------------------------------------------------------------------
# accounting pipeline functions — pre-r14 Column forms
# ---------------------------------------------------------------------------
def _old_accounting_detail(fact_loan):
    """The r13 Column construction, verbatim."""
    from data_pipeline_foundations_spark.functions.money import round2
    from data_pipeline_foundations_spark.pipelines.accounting import (
        DETAIL_COLUMNS,
    )

    paid, due = F.col("TotalAmountPaid"), F.col("TotalAmountDue")
    over = paid > due
    d = (fact_loan
         .filter(F.col("LoanStatus") != 6)
         .withColumns({
             "UnderpaidFlag": (paid < due) & (F.col("LoanStatus") == 2),
             "OverpaidAmount": F.when(over, round2(paid - due))
             .otherwise(0.0),
             "ApportionedAmountPaid": F.when(over, round2(due))
             .otherwise(round2(paid)),
             "IssueMonth": F.date_trunc("month", "IssueDate"),
             "IssueMonthCDMX": F.date_trunc("month", "IssueDateCDMX"),
             "SettledAtMonth": F.date_trunc("month", "SettledAt"),
             "SettledAtMonthCDMX": F.date_trunc("month", "SettledAtCDMX"),
             "DueDateMonth": F.date_trunc("month", "DueDate"),
         }))
    return d.select(*DETAIL_COLUMNS)


def _old_accounting_summary(detail, *, as_of, era=None):
    """The r13 Column construction, verbatim."""
    from data_pipeline_foundations_spark.functions.money import cents, round2
    from data_pipeline_foundations_spark.pipelines.accounting import (
        ACCOUNTING_SUM_COLS, _last_day_prev_month,
    )

    cutoff = F.lit(_last_day_prev_month(as_of).isoformat()).cast("timestamp")
    aggs = [round2(F.sum(c)).alias(c) for c in ACCOUNTING_SUM_COLS]
    if era is not None:
        aggs += [F.sum(cents("Fee")).alias("_era_fee_cents"),
                 F.sum(cents("PrincipalAmount")).alias("_era_prin_cents")]
    out = (detail
           .groupBy("IssueMonthCDMX")
           .agg(*aggs)
           .filter(F.col("IssueMonthCDMX") < cutoff))
    if era is not None:
        out = (out.withColumn(
                   "era_fee_ratio",
                   F.when(F.col("IssueMonthCDMX")
                          >= F.lit(era).cast("timestamp"),
                          F.col("_era_fee_cents").cast("double")
                          / F.col("_era_prin_cents").cast("double")))
               .drop("_era_fee_cents", "_era_prin_cents"))
    return out.orderBy("IssueMonthCDMX")


def _old_settled_summary(detail, *, as_of):
    """The r13 Column construction, verbatim."""
    from data_pipeline_foundations_spark.functions.money import round2
    from data_pipeline_foundations_spark.pipelines.accounting import (
        SETTLED_SUM_COLS, _last_day_prev_month,
    )

    cutoff = F.lit(_last_day_prev_month(as_of).isoformat()).cast("timestamp")
    return (detail
            .filter(F.col("SettledAtMonthCDMX").isNotNull())
            .groupBy("SettledAtMonthCDMX")
            .agg(*[round2(F.sum(c)).alias(c) for c in SETTLED_SUM_COLS])
            .filter(F.col("SettledAtMonthCDMX") <= cutoff)
            .orderBy("SettledAtMonthCDMX"))


def test_accounting_functions_selectexpr_same_plan(loan_fact_df):
    """accounting_detail / accounting_summary (era and no-era) /
    settled_summary: new one-parse forms == old Column forms."""
    from data_pipeline_foundations_spark.pipelines.accounting import (
        accounting_detail, accounting_summary, settled_summary,
    )

    as_of = dt.datetime(2025, 7, 1, 12, 0, 0)
    _same(accounting_detail(loan_fact_df),
          _old_accounting_detail(loan_fact_df), "accounting_detail drift")
    detail = accounting_detail(loan_fact_df)
    _same(accounting_summary(detail, as_of=as_of),
          _old_accounting_summary(detail, as_of=as_of),
          "accounting_summary drift (no era)")
    _same(accounting_summary(detail, as_of=as_of, era="2025-01-01"),
          _old_accounting_summary(detail, as_of=as_of, era="2025-01-01"),
          "accounting_summary drift (era)")
    _same(settled_summary(detail, as_of=as_of),
          _old_settled_summary(detail, as_of=as_of),
          "settled_summary drift")


# ---------------------------------------------------------------------------
# pl02 body (mapped select + referral agg + output projections) —
# pre-r14 Column form. tracked_persist is monkeypatched to identity on
# both sides so the pin compares pure logical plans (the persist is a
# storage hint, unchanged in r14).
# ---------------------------------------------------------------------------
def _old_pl02_frame(spark, sf_dir):
    """The r13 pl02 construction, verbatim, minus tracked_persist."""
    from data_pipeline_foundations_spark.functions.datetime_ops import (
        to_cdmx,
    )
    from data_pipeline_foundations_spark.functions.money import cents, round2
    from data_pipeline_foundations_spark.plans.pipelines import _PL02_AS_OF
    from data_pipeline_foundations_spark.tables import load

    fact = _old_settlement_pipeline(load(spark, sf_dir, "orders"),
                                    load(spark, sf_dir, "lineitem"),
                                    with_accounting_cols=True)
    status_code = (F.when(F.col("status") == "Fulfilled", 2)
                   .when(F.col("status") == "Open", 1)
                   .otherwise(6))
    policy = (F.col("loan_id") % 3).cast("int")
    mapped = fact.select(
        F.col("customer_id").alias("UserId"),
        F.col("loan_id").alias("UserLoanId"),
        F.col("issue_date").alias("IssueDate"),
        to_cdmx("issue_date").alias("IssueDateCDMX"),
        (F.col("issue_date") + F.expr("INTERVAL 30 DAYS")).alias("DueDate"),
        status_code.alias("LoanStatus"),
        F.col("loan_number").alias("LoanNumber"),
        (F.col("days_late") > 0).cast("int").alias("IsLate"),
        F.col("principal").alias("PrincipalAmount"),
        F.col("fee").alias("Fee"),
        F.col("tax_on_fee").alias("TaxOnFee"),
        F.col("late_fee").alias("LateFee"),
        F.col("tax_on_late_fee").alias("TaxOnLateFee"),
        F.col("total_due").alias("TotalAmountDue"),
        F.col("late_fee_paid").alias("LateFeePaid"),
        round2(F.col("late_fee_paid") * 0.16).alias("TaxOnLateFeePaid"),
        F.col("fee_paid").alias("FeePaid"),
        round2(F.col("fee_paid") * 0.16).alias("TaxOnFeePaid"),
        F.col("principal_paid").alias("PrincipalPaid"),
        F.col("total_paid").alias("TotalAmountPaid"),
        policy.alias("JitOfferPolicy"),
        F.when(policy == 0, "Standard").when(policy == 1, "Jit")
         .otherwise("Promo").alias("JitOfferPolicyName"),
        F.col("last_paid_at").alias("LastPaidDate"),
        to_cdmx("last_paid_at").alias("LastPaidDateCDMX"),
        F.col("settled_at").alias("SettledAt"),
        to_cdmx("settled_at").alias("SettledAtCDMX"),
        F.col("dispute_amount").alias("DisputeAmount"),
    )
    detail = _old_accounting_detail(mapped)
    as_of = dt.datetime.fromisoformat(_PL02_AS_OF + " 00:00:00")
    from data_pipeline_foundations_spark.plans.pipelines import _PL02_ERA
    acc = _old_accounting_summary(detail, as_of=as_of, era=_PL02_ERA)
    setl = _old_settled_summary(detail, as_of=as_of)

    o = load(spark, sf_dir, "orders")
    ref = (o.filter(F.col("o_orderstatus") == "F")
           .groupBy(F.date_trunc("month", to_cdmx("o_orderdate"))
                    .alias("ref_month"))
           .agg(F.count(F.lit(1)).alias("n_ref"),
                (F.sum(cents("o_totalprice")) / F.lit(100.0))
                .alias("ref_amt")))

    dnull = F.lit(None).cast("double")
    money_cols = ["PrincipalAmount", "Fee", "TaxOnFee", "LateFee",
                  "TaxOnLateFee", "TotalAmountDue", "PrincipalPaid",
                  "FeePaid", "TaxOnFeePaid", "LateFeePaid",
                  "TaxOnLateFeePaid", "ApportionedAmountPaid"]
    acc_out = (acc
               .join(ref, acc.IssueMonthCDMX == ref.ref_month, "left")
               .select(
                   F.lit("accounting").alias("report"),
                   F.col("IssueMonthCDMX").alias("month"),
                   *money_cols,
                   dnull.alias("DisputeAmount"),
                   F.coalesce("n_ref", F.lit(0)).alias("n_referral_payouts"),
                   F.coalesce("ref_amt",
                              F.lit(0.0)).alias("referral_amount"),
                   "era_fee_ratio",
               ))
    set_out = setl.select(
        F.lit("settled").alias("report"),
        F.col("SettledAtMonthCDMX").alias("month"),
        *[dnull.alias(c) for c in money_cols[:6]],
        *money_cols[6:12],
        "DisputeAmount",
        F.lit(None).cast("long").alias("n_referral_payouts"),
        dnull.alias("referral_amount"),
        dnull.alias("era_fee_ratio"),
    )
    return acc_out.unionByName(set_out)


def test_u01_selectexpr_same_plan(spark, sf_dir):
    """Whole-u01 pin: r14 one-parse base + waterfall == r13 Column form."""
    from data_pipeline_foundations_spark.functions.money import (
        round2, sum_money_expr,
    )
    from data_pipeline_foundations_spark.registry import all_queries
    from data_pipeline_foundations_spark.tables import load

    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    paid = (
        li.groupBy("l_orderkey")
        .agg(sum_money_expr(F.col("l_extendedprice")
                            * (1 - F.col("l_discount")))
             .alias("amount_paid"))
    )
    base = (
        o.join(paid, o.o_orderkey == paid.l_orderkey, "left")
        .select(
            F.col("o_orderkey").alias("loan_id"),
            round2(F.col("o_totalprice") * 0.70).alias("principal"),
            round2(F.col("o_totalprice") * 0.20).alias("fee"),
            F.when(F.col("o_orderstatus") == "F",
                   round2(F.col("o_totalprice") * 0.05))
            .otherwise(0.0).alias("late_fee"),
            F.coalesce(F.col("amount_paid"), F.lit(0.0)).alias("amount_paid"),
        )
    )
    old = _old_waterfall_columns(base)
    new = all_queries()["u01_waterfall_apportionment"].fn(spark, sf_dir)
    _same(new, old, "u01 drift")


def test_pl02_selectexpr_same_plan(spark, sf_dir, monkeypatch):
    """Whole-pl02 pin: the r14 one-parse body == the r13 Column body
    (persist neutralized on both sides — it is a storage hint, not a
    plan node, and r14 leaves it in place in production)."""
    from data_pipeline_foundations_spark.operators import caching
    from data_pipeline_foundations_spark.registry import all_queries

    monkeypatch.setattr(caching, "tracked_persist",
                        lambda df, eager=True: df)
    new = all_queries()["pl02_accounting_reports"].fn(spark, sf_dir)
    old = _old_pl02_frame(spark, sf_dir)
    _same(new, old, "pl02 body drift")


# ---------------------------------------------------------------------------
# simhash family (x04/x05) — pre-r14 Column forms
# ---------------------------------------------------------------------------
def _old_with_simhash(df, text_col, bits=64, out="simhash"):
    """The r13 lambda-HOF token-hash stage, verbatim."""
    from data_pipeline_foundations_spark.functions.hashing import md5_long
    from data_pipeline_foundations_spark.operators.dedup import (
        SIMHASH_HASH_BITS,
    )

    eff = min(bits, SIMHASH_HASH_BITS)
    d = df.withColumn(
        "_hs", F.transform(F.split(F.col(text_col), " "),
                           lambda t: md5_long(t)))
    d = d.withColumn("_cnt", F.expr(
        f"aggregate(_hs, array_repeat(CAST(0 AS BIGINT), {eff}), "
        f"(acc, h) -> transform(acc, (c, i) -> c + (shiftright(h, i) & CAST(1 AS BIGINT))))"
    ))
    return d.withColumn(out, F.coalesce(F.expr(
        "aggregate(transform(_cnt, (c, b) -> IF(2 * c > size(_hs), "
        "shiftleft(CAST(1 AS BIGINT), b), CAST(0 AS BIGINT))), "
        "CAST(0 AS BIGINT), (x, y) -> x + y)"
    ), F.lit(0).cast("long"))).drop("_hs", "_cnt")


def _old_simhash_band_structs(keys, mask, band_combo, nbands):
    """The r13 Column struct list, verbatim."""
    from itertools import combinations

    if band_combo == 1:
        return [F.struct(F.lit(j).alias("band_id"),
                         keys[j].alias("band_key"))
                for j in range(nbands)]
    out = []
    for c, idxs in enumerate(combinations(range(nbands), band_combo)):
        key = keys[idxs[0]]
        for i in idxs[1:]:
            key = key * F.lit(mask + 1) + keys[i]
        out.append(F.struct(F.lit(c).alias("band_id"),
                            key.alias("band_key")))
    return out


def _old_simhash_pairs(docs, *, id_col="doc_id", text_col="text", bits=64,
                       band_bits=8, max_hamming=6, band_combo=None):
    """The r13 construction, verbatim (persist via the live
    tracked_persist symbol, so the pin's monkeypatch covers both
    sides)."""
    from data_pipeline_foundations_spark.operators import caching
    from data_pipeline_foundations_spark.operators.dedup import scale_out

    nbands = bits // band_bits
    mask = (1 << band_bits) - 1
    if band_combo is None:
        band_combo = 2 if nbands >= max_hamming + 2 else 1
    sig = caching.tracked_persist(
        _old_with_simhash(scale_out(docs), text_col, bits, out="sh")
        .select(id_col, "sh"))
    keys = [F.shiftright(F.col("sh"), j * band_bits).bitwiseAND(F.lit(mask))
            for j in range(nbands)]
    band_structs = _old_simhash_band_structs(keys, mask, band_combo, nbands)
    bands_df = (sig.select(id_col, "sh",
                           F.explode(F.array(*band_structs)).alias("b"))
                .select(id_col, "sh", "b.band_id", "b.band_key"))
    x, y = bands_df.alias("x"), bands_df.alias("y")
    return (
        x.join(y, ["band_id", "band_key"])
        .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(F.col(f"x.{id_col}").alias("doc_a"),
                F.col(f"y.{id_col}").alias("doc_b"),
                F.bit_count(F.col("x.sh").bitwiseXOR(F.col("y.sh")))
                .alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def test_simhash_selectexpr_same_plan(spark, sf_dir, monkeypatch):
    """with_simhash and simhash_pairs (combo 1 and 2):
    new one-parse forms == old Column forms."""
    from data_pipeline_foundations_spark.operators import caching
    from data_pipeline_foundations_spark.operators.dedup import (
        simhash_pairs, with_simhash,
    )
    from data_pipeline_foundations_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    _same(with_simhash(docs, "text").select("doc_id", "simhash"),
          _old_with_simhash(docs, "text").select("doc_id", "simhash"),
          "with_simhash drift")
    monkeypatch.setattr(caching, "tracked_persist",
                        lambda df, eager=True: df)
    for combo in (1, 2):
        _same(simhash_pairs(docs, band_combo=combo),
              _old_simhash_pairs(docs, band_combo=combo),
              f"simhash_pairs drift (band_combo={combo})")
