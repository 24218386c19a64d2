"""Accounting reports pipeline (load_accounting_data.py analog), chained
end-to-end off the loan-detail fixture output."""

from __future__ import annotations

import datetime as dt

import pytest

from data_pipeline_foundations_spark.pipelines import (
    accounting_detail, accounting_summary, settled_summary,
)
from data_pipeline_foundations_spark.pipelines.accounting import (
    DETAIL_COLUMNS, detail_2025,
)
from tests.conftest import LOAN_AS_OF


@pytest.fixture(scope="module")
def detail(loan_fact_df):
    return accounting_detail(loan_fact_df)


def test_detail_projection_contract(detail):
    assert detail.columns == DETAIL_COLUMNS  # the 35-column P1 projection


def test_underpaid_and_overpaid_flags(detail):
    rows = {r.UserLoanId: r for r in detail.collect()}
    # loan 2 was bumped to TotalAmountDue by the repaid adjustment → not underpaid
    assert rows["2"].UnderpaidFlag is False
    # loan 7: overpay (arcus 300 + stripe 250 + cash 30 - dispute 250 = 330
    # vs due 400+40+6.4 = 446.4) → actually underpaid active loan: no flag
    assert rows["7"].UnderpaidFlag is False  # not repaid ⇒ never flagged
    assert rows["7"].OverpaidAmount == 0.0
    # ApportionedAmountPaid caps at due when overpaid, else equals paid
    for r in rows.values():
        if r.TotalAmountPaid > r.TotalAmountDue:
            assert r.ApportionedAmountPaid == pytest.approx(round(r.TotalAmountDue, 2))
            assert r.OverpaidAmount == pytest.approx(
                round(r.TotalAmountPaid - r.TotalAmountDue, 2))
        else:
            assert r.ApportionedAmountPaid == pytest.approx(round(r.TotalAmountPaid, 2))


def test_month_truncation(detail):
    r = {x.UserLoanId: x for x in detail.collect()}["1"]
    assert r.IssueMonth == dt.datetime(2025, 1, 1)
    assert r.SettledAtMonth == dt.datetime(2025, 1, 1)
    assert r.DueDateMonth == dt.datetime(2025, 2, 1)


def test_detail_2025_fee_ratio(detail):
    d = {x.UserLoanId: x for x in detail_2025(detail).collect()}
    # loan 1 issued 2025-01-01 UTC = 2024-12-31 CDMX → correctly excluded
    assert "1" not in d
    assert d["7"].FeeRatio == pytest.approx(40.0 / 400.0)


def test_accounting_summary_by_issue_month(detail):
    out = {r.IssueMonthCDMX: r for r in
           accounting_summary(detail, as_of=LOAN_AS_OF).collect()}
    # as_of 2025-07-01 → cutoff 2025-06-30; all issue months < cutoff remain
    assert dt.datetime(2025, 1, 1) in out or dt.datetime(2024, 12, 1) in out
    # sums are 2-dp exact money
    for r in out.values():
        for c in ("PrincipalAmount", "TotalAmountDue", "PrincipalPaid"):
            v = r[c]
            assert v == pytest.approx(round(v, 2))


def test_settled_summary_drops_null_group(detail, spark):
    out = settled_summary(detail, as_of=LOAN_AS_OF)
    # pandas groupby drops the NaN key (unsettled loans); parity demands
    # no null month row here
    assert out.filter("SettledAtMonthCDMX IS NULL").count() == 0
    months = [r.SettledAtMonthCDMX for r in out.collect()]
    assert months == sorted(months)


def test_detail_replaces_preexisting_derived_columns(loan_fact_df, detail):
    # a fact_loan that already carries derived names (stale values): the
    # derived columns replace them instead of colliding with them
    stale = loan_fact_df.selectExpr(
        "*", "TIMESTAMP'1999-01-01 00:00:00' AS IssueMonth",
        "true AS UnderpaidFlag")
    out = accounting_detail(stale)
    assert out.columns == DETAIL_COLUMNS
    got = {r.UserLoanId: r for r in out.collect()}
    want = {r.UserLoanId: r for r in detail.collect()}
    assert got == want
    assert got["1"].IssueMonth == dt.datetime(2025, 1, 1)


def test_accounting_summary_era_is_a_literal_not_sql(detail, spark):
    """``era`` enters the plan as a literal, never as SQL text: a
    quote-bearing value cannot rewrite the era CASE into "always true".
    Under ANSI casts (the Spark 4 default) the malformed literal fails
    loudly; without them it is a null boundary, so no month before
    2024-01 gets an era_fee_ratio."""
    from pyspark.sql import functions as F

    # the fixture's months are all 2024-12 or later: add a copy two
    # years earlier so there are months the injection would light up
    early = detail.withColumn(
        "IssueMonthCDMX",
        F.add_months("IssueMonthCDMX", -24).cast("timestamp"))
    era = "2024-01-01' AS TIMESTAMP) OR TRUE OR CAST('x"

    def summary():  # built per setting: a cast fixes its mode when resolved
        return accounting_summary(detail.unionByName(early),
                                  as_of=LOAN_AS_OF, era=era)

    ansi0 = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "true")
        with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
            summary().collect()
        spark.conf.set("spark.sql.ansi.enabled", "false")
        rows = summary().collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi0)
    before = [r for r in rows if r.IssueMonthCDMX < dt.datetime(2024, 1, 1)]
    assert before
    assert all(r.era_fee_ratio is None for r in before)
