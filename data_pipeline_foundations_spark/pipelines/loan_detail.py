"""Loan-detail pipeline: the reference's core fact-table build, Spark-first.

Re-expresses extract_loan_detail.py end-to-end as ONE lazy DataFrame plan:
5 SQL extracts (:15-134) → tz pairs (:139-155) → 4-way left join (:157-159)
→ null fill (:162-165) → totals (:169-187) → repaid-underpayment adjust
(:191-195) → waterfall apportionment (:198-234, here closed-form column
expressions instead of a row-wise apply) → last-paid greatest (:238) →
settlement (:249-267) → cohort (:269-273) → DPD (:286-295) → key casts
(:298-299) → strategy enrichment + dedup-latest + overrides (:306-377) →
pypper late-strategy join (:380-386).

Documented deviations (SURVEY.md §7.4 — intent over accident):
  - LoanNumber adds UserLoanId as a deterministic tiebreak (T-SQL
    row_number ties are nondeterministic, W1).
  - The dedup-latest window adds a Strategy-desc tiebreak on CreatedAt
    ties (pandas keeps physical input order, which has no Spark analog).
  - The dead parquet re-read (:380-382) is not reproduced.
  - The repaid-without-payments branch copies DueDate's wall clock into
    SettledAtCDMX unchanged — reproducing the reference's inconsistent
    localize (:265) since it is observable output behavior.

Every time anchor is the injected ``as_of`` (naive CDMX wall clock), per
SURVEY.md D7.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.money import bround2_sql
from ..operators.waterfall import _bucket_sql

CDMX = "America/Mexico_City"

LOAN_STATUS_NAMES = {
    0: "Created", 1: "Active", 2: "Repaid", 3: "Defaulted", 5: "Repaying",
    6: "DisbursementFailed", 7: "Disbursing", 8: "CollectionFailed",
}
OFFER_POLICY_NAMES = {0: "TenPercentFee", 1: "FifteenPercentFee",
                      2: "MultiAmountsV1", 3: "MultiTermsV1"}
CREDIT_POLICY_NAMES = {
    1: "Belvo", 2: "Nubarium", 3: "Statements", 4: "RepeatBelvo",
    5: "RepeatStatements", 6: "RepeatControl", 7: "Avocado", 8: "AvocadoV2",
    9: "BadAvocadoV2", 10: "Random", 14: "BajaV1", 15: "BajaV2",
    16: "CaboV1", 17: "CaboGraduation", 18: "DurangoV1",
    19: "DurangoGraduation", 20: "DurangoAncho", 21: "DurangoV2Conservative",
    22: "DurangoV2Aggressive",
}
POST_DD_STRATEGIES = (3, 4, 10, 11, 12, 13)
EXPLICIT_POST_DD = (3, 4, 13)
THRESHOLD_OVERRIDE = (10, 11, 12)


def _decode(col: F.Column, mapping: dict[int, str]) -> F.Column:
    expr = None
    for code, name in mapping.items():
        expr = F.when(col == code, name) if expr is None else expr.when(col == code, name)
    return expr  # unmapped codes fall through to null (ELSE null)


def _loans_extract(user_loans: DataFrame, subs: DataFrame,
                   offers: DataFrame) -> DataFrame:
    """The loans SQL extract (extract_loan_detail.py:15-78): inner join to
    subscriptions, left join to offers, enum decodes, per-user sequence."""
    l, uls, jlo = user_loans.alias("l"), subs.alias("uls"), offers.alias("jlo")
    w = Window.partitionBy("uls.UserId").orderBy("l.CreatedAt", "l.UserLoanId")
    late = F.col("l.IsLate") == 1
    return (
        l.join(uls, "UserLoanSubscriptionId")
        .join(jlo, F.col("l.JitLoanOfferId") == F.col("jlo.LoanOfferId"), "left")
        .filter(~F.col("l.LoanStatus").isin(6))
        .select(
            F.col("uls.UserId").alias("UserId"),
            F.col("l.UserLoanId").alias("UserLoanId"),
            F.col("l.CreatedAt").alias("IssueDate"),
            F.col("l.ModifiedAt").alias("ModifiedAt"),
            F.col("l.DueDate").alias("DueDate"),
            F.col("l.Amount").alias("PrincipalAmount"),
            F.col("l.Fee").alias("Fee"),
            (F.col("l.Fee") * 0.16).alias("TaxOnFee"),
            F.when(late, F.col("l.LateFee")).otherwise(0.0).alias("LateFee"),
            F.when(late, F.col("l.LateFee") * 0.16).otherwise(0.0).alias("TaxOnLateFee"),
            F.col("l.LoanStatus").alias("LoanStatus"),
            F.col("l.IsLate").alias("IsLate"),
            _decode(F.col("l.LoanStatus"), LOAN_STATUS_NAMES).alias("LoanStatusDescription"),
            F.row_number().over(w).alias("LoanNumber"),
            F.col("l.FeeRatio").alias("FeeRatio"),
            F.col("jlo.OfferPolicy").alias("JitOfferPolicy"),
            _decode(F.col("jlo.OfferPolicy"), OFFER_POLICY_NAMES).alias("JitOfferPolicyName"),
            F.col("jlo.CreditPolicy").alias("CreditPolicy"),
            _decode(F.col("jlo.CreditPolicy"), CREDIT_POLICY_NAMES).alias("CreditPolicyName"),
            F.col("jlo.MlScore").alias("MlScore"),
        )
    )


def _channel_aggs(inputs: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """A1-A4: per-channel payment aggregates, one row per loan
    (extract_loan_detail.py:82-134) — pre-aggregated BEFORE the join so
    the join right-sides are small (broadcast candidates at scale)."""
    at = inputs["arcus_transactions"]
    ulat = inputs["user_loan_arcus_transactions"]
    st = inputs["stripe_transactions"]
    ulst = inputs["user_loan_stripe_transactions"]
    sd = inputs["stripe_dispute"]
    ot = inputs["openpay_transactions"]
    ulot = inputs["user_loan_openpay_transactions"]

    arcus = (
        ulat.join(at, "ArcusTransactionId")
        .filter((F.col("IsDistribution") == 0) & (F.col("Status") != 2))
        .groupBy("UserLoanId")
        .agg(F.sum("Amount").alias("AmountPaidArcus"),
             F.max("CompletedAt").alias("LastPaidAtArcus"))
    )
    stripe = (
        ulst.join(st, "StripeTransactionId")
        .filter(F.col("Status") == 1)
        .groupBy("UserLoanId")
        .agg(F.sum("Amount").alias("AmountPaidStripe"),
             F.max("CreatedAt").alias("LastPaidAtStripe"))
    )
    dispute = (
        ulst.join(st, "StripeTransactionId")
        .join(sd, "StripeTransactionId")
        .filter((F.col("Status") == 1) & (F.col("DisputeStatus") == 2))
        .groupBy("UserLoanId")
        .agg(F.sum(F.when(F.col("StripeDisputeId").isNotNull(), F.col("Amount"))
                   .otherwise(0.0)).alias("DisputeAmount"))
    )
    cash = (
        ulot.join(ot, "OpenpayTransactionId")
        .filter((F.col("IsDistribution") == 0) & (F.col("Status") == 2))
        .groupBy("UserLoanId")
        .agg(F.sum("Amount").alias("AmountPaidCash"),
             F.max("CreatedAt").alias("LastPaidAtCash"))
    )
    return {"arcus": arcus, "stripe": stripe, "dispute": dispute, "cash": cash}


def _apportion(r: DataFrame) -> DataFrame:
    """U1 waterfall (:198-234) as closed-form expressions, parsed by one
    ``selectExpr``. The pipeline feeds the extract's UNROUNDED taxes
    (TaxOnFee = Fee*0.16 exactly, no 2-dp snap) and leaves PrincipalPaid
    unrounded — both match the reference's apportion_payments; bround
    reproduces Python round's half-even on the partial-bucket splits."""
    alloc = "least(TotalAmountPaid, TotalAmountDue)"
    lf_paid, lf_tax_paid, rem1 = _bucket_sql(alloc, "LateFee", "TaxOnLateFee",
                                             bround2_sql)
    fee_paid, fee_tax_paid, rem2 = _bucket_sql(rem1, "Fee", "TaxOnFee",
                                               bround2_sql)
    return r.selectExpr(
        "*",
        f"{lf_paid} AS LateFeePaid",
        f"{lf_tax_paid} AS TaxOnLateFeePaid",
        f"{fee_paid} AS FeePaid",
        f"{fee_tax_paid} AS TaxOnFeePaid",
        f"least({rem2}, PrincipalAmount) AS PrincipalPaid",
    )


def loan_detail(inputs: dict[str, DataFrame], *,
                as_of: _dt.datetime) -> DataFrame:
    """Build the fact_loan table (FIXTURES.md §3 contract).

    ``inputs`` holds FIXTURES.md §1-shaped DataFrames plus
    ``collections_strategies`` (the strategies pipeline OUTPUT).
    ``as_of`` is the deterministic CDMX "now" (naive wall clock).
    """
    loans = _loans_extract(inputs["user_loans"],
                           inputs["user_loan_subscriptions"],
                           inputs["loan_offers"])
    ch = _channel_aggs(inputs)

    # tz pair columns (D1): keep UTC + CDMX wall-clock twins, naive.
    loans = loans.withColumns({
        "IssueDateCDMX": F.from_utc_timestamp("IssueDate", CDMX),
        "ModifiedAtCDMX": F.from_utc_timestamp("ModifiedAt", CDMX),
    })
    for name, key in (("arcus", "LastPaidAtArcus"), ("stripe", "LastPaidAtStripe"),
                      ("cash", "LastPaidAtCash")):
        ch[name] = ch[name].withColumn(f"{key}CDMX", F.from_utc_timestamp(key, CDMX))

    r = (loans
         .join(ch["arcus"], "UserLoanId", "left")
         .join(ch["stripe"], "UserLoanId", "left")
         .join(ch["dispute"], "UserLoanId", "left")
         .join(ch["cash"], "UserLoanId", "left")
         .na.fill({"AmountPaidArcus": 0.0, "AmountPaidStripe": 0.0,
                   "AmountPaidCash": 0.0, "DisputeAmount": 0.0}))

    total_due = (F.col("PrincipalAmount") + F.col("Fee") + F.col("TaxOnFee")
                 + F.col("LateFee") + F.col("TaxOnLateFee"))
    total_paid_raw = (F.col("AmountPaidArcus") + F.col("AmountPaidStripe")
                      + F.col("AmountPaidCash") - F.col("DisputeAmount"))
    r = r.withColumns({
        "TotalAmountDue": total_due,
        "TotalOriginalAmountPaid": total_paid_raw,
    })
    # repaid-loan underpayment adjustment (:191-195)
    r = r.withColumn(
        "TotalAmountPaid",
        F.when((total_paid_raw < F.col("TotalAmountDue")) & (F.col("LoanStatus") == 2),
               F.col("TotalAmountDue")).otherwise(total_paid_raw))

    r = _apportion(r)

    r = r.withColumns({
        "LastPaidDate": F.greatest("LastPaidAtArcus", "LastPaidAtStripe", "LastPaidAtCash"),
    })
    r = r.withColumn("LastPaidDateCDMX", F.from_utc_timestamp("LastPaidDate", CDMX))

    # settlement (:249-267): repaid-with-payments → last payment;
    # repaid-without-payments → DueDate (CDMX twin copies the wall clock
    # unchanged — the reference's observable behavior); else null.
    repaid = F.col("LoanStatus") == 2
    has_pay = F.col("LastPaidDate").isNotNull()
    r = r.withColumns({
        "SettledAt": F.when(repaid & has_pay, F.col("LastPaidDate"))
                      .when(repaid & ~has_pay, F.col("DueDate")),
        "SettledAtCDMX": F.when(repaid & has_pay, F.from_utc_timestamp("LastPaidDate", CDMX))
                          .when(repaid & ~has_pay, F.col("DueDate")),
        "LoanCohort": F.when(F.col("LoanNumber") == 1, "First").otherwise("Repeat"),
    })

    # DPD (:286-295): calendar-day difference, clipped at 0.
    today = F.lit(as_of.date().isoformat()).cast("timestamp")
    day_diff = (F.unix_timestamp(F.col("SettledAtCDMX")) - F.unix_timestamp("DueDate")) / 86400.0
    day_diff_today = (F.unix_timestamp(today) - F.unix_timestamp("DueDate")) / 86400.0
    r = r.withColumn(
        "DaysLate",
        F.greatest(
            F.floor(F.when(F.col("SettledAt").isNotNull(), day_diff)
                    .otherwise(day_diff_today)).cast("long"),
            F.lit(0).cast("long")))

    r = r.withColumns({"UserId": F.col("UserId").cast("string"),
                       "UserLoanId": F.col("UserLoanId").cast("string")})

    # strategy enrichment (:306-377)
    stgy = inputs["collections_strategies"]
    post_dd = stgy.filter(F.col("Strategy").isin(list(POST_DD_STRATEGIES)))
    e = r.join(post_dd, "UserLoanId", "left")

    threshold = F.date_trunc("day", F.col("DueDate")) + F.expr("INTERVAL 30 HOURS")
    now_cdmx = F.lit(as_of.isoformat(sep=" ")).cast("timestamp")
    past_due = F.col("DueDate") < now_cdmx
    settled_after_threshold = F.col("SettledAtCDMX") > threshold
    over_30h_unsettled = ((F.unix_timestamp(now_cdmx) - F.unix_timestamp("DueDate")
                           > 30 * 3600)
                          & F.col("SettledAtCDMX").isNull())
    # coalesce twice: pandas isin/compares yield False on NaN, Spark null
    e = e.withColumn(
        "IsPostDD",
        F.coalesce(
            F.coalesce(F.col("Strategy").isin(list(EXPLICIT_POST_DD)), F.lit(False))
            | (past_due & (F.coalesce(settled_after_threshold, F.lit(False))
                           | over_30h_unsettled)),
            F.lit(False)))

    # dedup-latest per loan (J10/W2) with deterministic tiebreak
    wd = Window.partitionBy("UserLoanId").orderBy(
        F.col("CreatedAt").desc_nulls_last(), F.col("Strategy").desc_nulls_last())
    e = (e.withColumn("_rn", F.row_number().over(wd))
         .filter(F.col("_rn") == 1).drop("_rn"))

    # U3 overrides (:354-372): threshold replaces missing/Moonflow stamps
    override = (F.col("IsPostDD")
                & (F.col("CreatedAt").isNull()
                   | F.col("Strategy").isin(list(THRESHOLD_OVERRIDE))))
    e = e.withColumns({
        "StrategyCreatedAt": F.when(override, threshold).otherwise(F.col("CreatedAt")),
        "StrategyCreatedAtCDMX": F.when(override, threshold).otherwise(F.col("CreatedAtCDMX")),
        "StrategyName": F.coalesce("StrategyName", F.lit("Twilio")),
    })
    e = e.drop("CreatedAt", "CreatedAtCDMX", "IsDeleted", "StrategyType")

    # pypper late-strategy join (J9, :380-386)
    pypper = (stgy.filter(F.col("Strategy") == 14)
              .select("UserLoanId",
                      F.col("Strategy").alias("LateStrategy"),
                      F.col("StrategyName").alias("LateStrategyName"),
                      F.col("CreatedAt").alias("LateStrategyCreatedAt"),
                      F.col("CreatedAtCDMX").alias("LateStrategyCreatedAtCDMX")))
    return e.join(pypper, "UserLoanId", "left")
