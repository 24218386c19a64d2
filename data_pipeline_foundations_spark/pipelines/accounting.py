"""Accounting reports pipeline (load_accounting_data.py:30-157).

Consumes the fact_loan table (loan_detail output) and produces:
  - the 35-column repayment detail (P1, :66-104) with underpaid/overpaid
    derivation (P10, :40-58) and month truncations (D4, :60-64);
  - the issue-month accounting summary (A5, :112-118);
  - the settled-month summary (A6, :120-127) — pandas silently drops the
    null group (unsettled loans); Spark keeps it, so the filter is
    explicit here (SURVEY.md §5.5 parity trap).

Documented deviation (SURVEY.md §7.4): the reference's 2025 detail filter
compares against the string '205-01-01' (:106) — a typo that makes the
filter a no-op. The intent (IssueMonthCDMX >= 2025-01-01) is implemented
and the deviation noted.

All "today" anchors are the injected ``as_of`` (D7).
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.money import cents_sql, round2_sql

DETAIL_COLUMNS = [
    "UserId", "UserLoanId", "IssueMonth", "IssueMonthCDMX", "IssueDate",
    "IssueDateCDMX", "DueDate", "DueDateMonth", "LoanStatus", "LoanNumber",
    "IsLate", "PrincipalAmount", "Fee", "TaxOnFee", "LateFee", "TaxOnLateFee",
    "TotalAmountDue", "LateFeePaid", "TaxOnLateFeePaid", "FeePaid",
    "TaxOnFeePaid", "PrincipalPaid", "ApportionedAmountPaid",
    "TotalAmountPaid", "OverpaidAmount", "JitOfferPolicy",
    "JitOfferPolicyName", "LastPaidDate", "LastPaidDateCDMX", "SettledAt",
    "SettledAtCDMX", "SettledAtMonth", "SettledAtMonthCDMX", "UnderpaidFlag",
    "DisputeAmount",
]

ACCOUNTING_SUM_COLS = [
    "PrincipalAmount", "Fee", "TaxOnFee", "LateFee", "TaxOnLateFee",
    "TotalAmountDue", "PrincipalPaid", "FeePaid", "TaxOnFeePaid",
    "LateFeePaid", "TaxOnLateFeePaid", "ApportionedAmountPaid",
]
SETTLED_SUM_COLS = [
    "PrincipalPaid", "FeePaid", "TaxOnFeePaid", "LateFeePaid",
    "TaxOnLateFeePaid", "ApportionedAmountPaid", "DisputeAmount",
]


def _last_day_prev_month(as_of: _dt.datetime) -> _dt.date:
    return as_of.date().replace(day=1) - _dt.timedelta(days=1)


_OVER = "TotalAmountPaid > TotalAmountDue"
# derived detail columns (name → SQL), computed over fact_loan's columns
_DETAIL_DERIVED = {
    "UnderpaidFlag":
        "((TotalAmountPaid < TotalAmountDue) AND (LoanStatus = 2))",
    "OverpaidAmount":
        f"CASE WHEN {_OVER} THEN {round2_sql('TotalAmountPaid - TotalAmountDue')} "
        "ELSE 0.0D END",
    "ApportionedAmountPaid":
        f"CASE WHEN {_OVER} THEN {round2_sql('TotalAmountDue')} "
        f"ELSE {round2_sql('TotalAmountPaid')} END",
    "IssueMonth": "date_trunc('month', IssueDate)",
    "IssueMonthCDMX": "date_trunc('month', IssueDateCDMX)",
    "SettledAtMonth": "date_trunc('month', SettledAt)",
    "SettledAtMonthCDMX": "date_trunc('month', SettledAtCDMX)",
    "DueDateMonth": "date_trunc('month', DueDate)",
}


def accounting_detail(fact_loan: DataFrame) -> DataFrame:
    """The repayment detail projection (:36-104).

    Built as ONE ``selectExpr`` parse instead of per-node Column calls
    (r14 opt: one Py4J round trip instead of one per node). An input
    column named like a derived one (say a fact_loan that already
    carries ``IssueMonth``) is dropped first, so the derived column
    replaces it rather than being appended as an ambiguous twin."""
    d = (fact_loan
         .drop(*_DETAIL_DERIVED)
         .filter("LoanStatus != 6")
         .selectExpr("*", *(f"{e} AS {n}" for n, e in _DETAIL_DERIVED.items())))
    return d.select(*DETAIL_COLUMNS)


def detail_2025(detail: DataFrame, *, era: str = "2025-01-01") -> DataFrame:
    """The 2025 slice with FeeRatio (:106-107); implements the INTENT of
    the reference's '205-01-01' typo filter (see module docstring). The
    era boundary is injectable (D7 spirit — the reference hard-codes it)
    so the same slice runs against datasets whose dates live in a
    different range (pl02 uses it over the star schema's 1995-2001
    orders)."""
    return (detail
            .filter(F.col("IssueMonthCDMX") >= F.lit(era).cast("timestamp"))
            .withColumn("FeeRatio", F.col("Fee") / F.col("PrincipalAmount")))


def accounting_summary(detail: DataFrame, *, as_of: _dt.datetime,
                       era: str | None = None) -> DataFrame:
    """A5 (:112-118): money sums by CDMX issue month, strictly before the
    previous month's last day.

    Sum-then-round (round2(sum(c)), the reference's ``.sum().round(2)``,
    :116) — NOT per-row cents rounding: detail columns like TaxOnFee =
    Fee*0.16 are not 2-dp, and rounding each row before summing can
    drift the monthly total by cents (ADVICE r1).

    ``era`` (opt-in, scale path): when set, the era fee ratio — the
    detail_2025 slice's SUM(Fee cents)/SUM(Principal cents) per issue
    month — rides the SAME groupBy as the money sums and comes back as
    an ``era_fee_ratio`` column (null for months before the boundary).
    Semantically identical to aggregating the detail_2025 slice
    separately and left-joining on issue month (the boundary predicate
    is constant within each group, so conditional sums over the full
    detail equal plain sums over the filtered slice), but it saves a
    whole detail scan + month exchange + broadcast join: at 100x the
    detail is the expensive side, and a multi-report job should fan N
    reports out of ONE exchange per distinct grouping key (VERDICT r9
    #1)."""
    cutoff = _last_day_prev_month(as_of).isoformat()
    aggs = [F.expr(f"{round2_sql(f'sum({c})')}").alias(c)
            for c in ACCOUNTING_SUM_COLS]
    if era is not None:
        # exact-cents sums, cast to double only at the final division —
        # the same arithmetic as the standalone era aggregate
        aggs += [F.expr(f"sum({cents_sql('Fee')})").alias("_era_fee_cents"),
                 F.expr(f"sum({cents_sql('PrincipalAmount')})")
                 .alias("_era_prin_cents")]
    out = (detail
           .groupBy("IssueMonthCDMX")
           .agg(*aggs)
           .filter(f"IssueMonthCDMX < CAST('{cutoff}' AS TIMESTAMP)"))
    if era is not None:
        # ``era`` is a caller's string: it enters the plan as a literal
        # (the detail_2025 form), never spliced into SQL text
        ratio = (F.col("_era_fee_cents").cast("double")
                 / F.col("_era_prin_cents").cast("double"))
        out = (out.select(
                   "*",
                   F.when(F.col("IssueMonthCDMX")
                          >= F.lit(era).cast("timestamp"), ratio)
                   .alias("era_fee_ratio"))
               .drop("_era_fee_cents", "_era_prin_cents"))
    return out.orderBy("IssueMonthCDMX")


def settled_summary(detail: DataFrame, *, as_of: _dt.datetime) -> DataFrame:
    """A6 (:120-127): money sums by CDMX settlement month. The explicit
    isNotNull reproduces pandas' silent NaN-group drop. Sum-then-round,
    matching the reference (see accounting_summary)."""
    cutoff = _last_day_prev_month(as_of).isoformat()
    return (detail
            .filter("SettledAtMonthCDMX IS NOT NULL")
            .groupBy("SettledAtMonthCDMX")
            .agg(*[F.expr(f"{round2_sql(f'sum({c})')}").alias(c)
                   for c in SETTLED_SUM_COLS])
            .filter(f"SettledAtMonthCDMX <= CAST('{cutoff}' AS TIMESTAMP)")
            .orderBy("SettledAtMonthCDMX"))
