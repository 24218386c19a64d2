"""Reference-pipeline analogs, end-to-end over the TESTDATA schema.

These queries re-run the reference's pipeline *logic* (waterfall payment
apportionment, settlement/DPD, calendar generation, accounting rollups) with
the star-schema tables playing the roles of the lending tables. The real
fixture-faithful pipelines live in ``pipelines/`` and are exercised by unit
tests; these registry entries are the oracle-checkable projections of the
same operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import (
    cents_sql, oracle_round2, oracle_scaled_long, round2, round2_sql,
)
from ..operators.calendar import calendar_dim, oracle_calendar_sql
from ..operators.waterfall import oracle_waterfall_sql, waterfall_columns
from ..registry import query
from ..tables import load


@query("u01_waterfall_apportionment", oracle=oracle_waterfall_sql())
def u01_waterfall_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 — the reference's crown-jewel payment waterfall
    (extract_loan_detail.py:198-234), re-expressed as closed-form column
    expressions instead of a row-wise Python UDF: the single biggest
    idiomatic win over the reference (SURVEY.md §2.9). Whole-stage codegen,
    zero Python in the hot path.

    Role mapping onto TESTDATA: each order is a "loan" whose buckets derive
    from o_totalprice; the amount paid is the discounted lineitem revenue.
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    # One-parse string form (r14): one Py4J round trip instead of one per
    # Column node, matching waterfall_columns' own selectExpr conversion.
    paid = (
        li.groupBy("l_orderkey")
        .agg(F.expr(f"sum({cents_sql('(l_extendedprice * (1 - l_discount))')})"
                    " / 100.0D")
             .alias("amount_paid"))
    )
    r2 = round2_sql
    base = (
        o.join(paid, o.o_orderkey == paid.l_orderkey, "left")
        .selectExpr(
            "o_orderkey AS loan_id",
            f"{r2('o_totalprice * 0.7D')} AS principal",
            f"{r2('o_totalprice * 0.2D')} AS fee",
            "CASE WHEN o_orderstatus = 'F' THEN "
            f"{r2('o_totalprice * 0.05D')} ELSE 0.0D END AS late_fee",
            "coalesce(amount_paid, 0.0D) AS amount_paid",
        )
    )
    return waterfall_columns(base)


@query("d11_calendar_dim", oracle=oracle_calendar_sql())
def d11_calendar_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D11 generated date dimension with Mexican quincena payroll attributes
    (create_calendar.py:26-84) — sequence+explode, no driver loop, injectable
    end date (as_of) instead of now() for determinism (SURVEY.md D7)."""
    return calendar_dim(spark, start="2022-08-01", as_of="2025-12-31",
                        min_date="2022-09-01")


# ---------------------------------------------------------------------------
# pl01 — the loan-detail pipeline end-to-end (extract_loan_detail.py analog)
# ---------------------------------------------------------------------------
_PL01_AS_OF = "2025-12-31"  # injectable "now" anchor (SURVEY.md D7)


def _oracle_pl01_ctes() -> str:
    """The settlement chain's CTE block (everything up to ``settled``),
    shared by pl01's final projection and pl02's accounting summaries."""
    r2 = oracle_round2

    def chan(flag: str) -> str:
        return f"""
        SELECT l_orderkey,
               SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100.0 + 0.5) AS BIGINT)) / 100.0
                   AS paid_{flag.lower()},
               MAX(l_shipdate) AS last_paid_{flag.lower()}
        FROM lineitem WHERE l_returnflag = '{flag}'
        GROUP BY l_orderkey"""

    return f"""
    WITH ch_a AS ({chan('A')}
    ), ch_n AS ({chan('N')}
    ), ch_r AS ({chan('R')}
    ), disputed AS (
        SELECT l_orderkey,
               SUM(CASE WHEN l_linestatus = 'O'
                        THEN CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100.0 + 0.5) AS BIGINT)
                        ELSE 0 END) / 100.0 AS disputed
        FROM lineitem WHERE l_returnflag = 'R'
        GROUP BY l_orderkey
    ), joined AS (
        SELECT o.o_orderkey AS loan_id,
               o.o_custkey AS customer_id,
               o.o_orderstatus,
               o.o_orderdate,
               COALESCE(a.paid_a, 0.0) AS paid_a,
               COALESCE(n.paid_n, 0.0) AS paid_n,
               COALESCE(r.paid_r, 0.0) AS paid_r,
               COALESCE(d.disputed, 0.0) AS disputed,
               greatest(a.last_paid_a, n.last_paid_n, r.last_paid_r) AS last_paid_at,
               {r2('o.o_totalprice * 0.70')} AS principal,
               {r2('o.o_totalprice * 0.20')} AS fee,
               CASE WHEN o.o_orderstatus = 'F'
                    THEN {r2('o.o_totalprice * 0.05')} ELSE 0.0 END AS late_fee
        FROM orders o
        LEFT JOIN ch_a a ON o.o_orderkey = a.l_orderkey
        LEFT JOIN ch_n n ON o.o_orderkey = n.l_orderkey
        LEFT JOIN ch_r r ON o.o_orderkey = r.l_orderkey
        LEFT JOIN disputed d ON o.o_orderkey = d.l_orderkey
    ), taxed AS (
        SELECT *,
               {r2('fee * 0.16')} AS tax_on_fee,
               {r2('late_fee * 0.16')} AS tax_on_late_fee,
               {r2('paid_a + paid_n + paid_r - disputed')} AS total_paid
        FROM joined
    ), adjusted AS (
        SELECT *,
               principal + fee + tax_on_fee + late_fee + tax_on_late_fee AS total_due,
               CASE WHEN o_orderstatus = 'F'
                         AND (principal + fee + tax_on_fee + late_fee + tax_on_late_fee) - total_paid
                             BETWEEN 0.0 AND 1.0
                    THEN principal + fee + tax_on_fee + late_fee + tax_on_late_fee
                    ELSE total_paid END AS amount_paid
        FROM taxed
    ), b1 AS (
        SELECT *,
               LEAST(amount_paid, total_due) AS to_allocate
        FROM adjusted
    ), b2 AS (
        SELECT *,
               CASE WHEN to_allocate >= late_fee + tax_on_late_fee
                    THEN late_fee ELSE {r2('to_allocate / 1.16')} END AS late_fee_paid,
               CASE WHEN to_allocate >= late_fee + tax_on_late_fee
                    THEN to_allocate - (late_fee + tax_on_late_fee) ELSE 0.0 END AS rem1
        FROM b1
    ), b3 AS (
        SELECT *,
               CASE WHEN rem1 >= fee + tax_on_fee
                    THEN fee ELSE {r2('rem1 / 1.16')} END AS fee_paid,
               CASE WHEN rem1 >= fee + tax_on_fee
                    THEN rem1 - (fee + tax_on_fee) ELSE 0.0 END AS rem2
        FROM b2
    ), settled AS (
        SELECT *,
               {r2('LEAST(rem2, principal)')} AS principal_paid,
               CASE WHEN {r2('LEAST(rem2, principal)')} >= principal
                    THEN last_paid_at ELSE NULL END AS settled_at
        FROM b3
    )
    """


def _oracle_pl01_sql() -> str:
    """DuckDB twin of pl01 — same operator chain, same money arithmetic."""
    r2 = oracle_round2
    return f"""{_oracle_pl01_ctes()}
    SELECT loan_id, customer_id,
           CASE o_orderstatus WHEN 'F' THEN 'Fulfilled' WHEN 'O' THEN 'Open'
                WHEN 'P' THEN 'Pending' ELSE 'Unknown' END AS status,
           CAST(row_number() OVER (PARTITION BY customer_id
                                   ORDER BY o_orderdate, loan_id) AS INTEGER) AS loan_number,
           CASE WHEN row_number() OVER (PARTITION BY customer_id
                                        ORDER BY o_orderdate, loan_id) = 1
                THEN 'First' ELSE 'Repeat' END AS cohort,
           principal, fee, late_fee, {r2('total_due')} AS total_due, total_paid,
           late_fee_paid, fee_paid, principal_paid,
           last_paid_at, settled_at,
           CAST(settled_at IS NOT NULL AS BOOLEAN) AS is_settled,
           CAST(greatest(
               date_diff('day', CAST(o_orderdate + INTERVAL 30 DAY AS DATE),
                         CASE WHEN settled_at IS NOT NULL THEN CAST(settled_at AS DATE)
                              ELSE DATE '{_PL01_AS_OF}' END),
               0) AS BIGINT) AS days_late
    FROM settled
    """


@query("pl01_settlement_pipeline", oracle=_oracle_pl01_sql())
def pl01_settlement_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end loan-detail pipeline analog (SURVEY.md §3.2): per-channel
    pre-aggregation (A1-A4) → 4-way left join onto the fact (J7, small agg
    sides are broadcast candidates under AQE) → null fill (P15) → derived
    totals (P11) → repaid-underpayment forgiveness (P10,
    extract_loan_detail.py:191-195 analog) → waterfall apportionment (U1) →
    settlement + row-wise greatest (P14) → DPD with clip-at-0 (D6/P13) →
    enum decode (P9) → per-customer loan sequence + cohort (W1).

    Channel mapping onto TESTDATA: l_returnflag A/N/R play the
    arcus/stripe/cash payment channels; 'O'-linestatus R-channel rows play
    disputed payments (A3). The "now" anchor is an injectable literal
    (SURVEY.md D7) so results are deterministic.

    Scale notes: ALL per-channel aggregates (A1-A4) come out of ONE
    lineitem scan and ONE shuffle via conditional aggregation —
    sum(when(channel, cents)) — instead of one filtered scan + shuffle +
    join per channel. A channel with no rows for an order aggregates to
    NULL, exactly what the per-channel left join produced, so the
    downstream coalesce is unchanged. The single join right-side is one
    row per order — orders-of-magnitude smaller than lineitem — and
    broadcast when under the AQE threshold; the window (W1) shuffles on
    o_custkey once.

    Plan audit (VERDICT r3 task #5, sf0.1 executed plan): exactly 3
    Exchanges — the agg hash shuffle, the BroadcastExchange of the
    per-order agg (AQE picks BroadcastHashJoin BuildRight as hoped, no
    SortMergeJoin anywhere), and the single window repartition — with
    AQE coalescing the 32 upper-bound partitions. That is the minimal
    shape for agg→join→window; the residual gap to DuckDB (~1.6 s vs
    ~0.7 s stable) is the fixed cost of those two shuffle stages plus
    building a 150k-entry broadcast relation, not a missing
    optimization — each stage is individually sub-second and
    corpus-proportional.
    """
    return settlement_pipeline(load(spark, sf_dir, "orders"),
                               load(spark, sf_dir, "lineitem"))


def settlement_pipeline(o: DataFrame, li: DataFrame, *,
                        with_accounting_cols: bool = False) -> DataFrame:
    """The pl01 computation over caller-supplied orders/lineitem frames.

    ``with_accounting_cols=True`` appends the four intermediate columns
    the downstream accounting pipeline (pl02) consumes — issue_date,
    tax_on_fee, tax_on_late_fee, dispute_amount — which pl01's pinned
    surface drops. Default off so pl01's schema/hash stays unchanged.
    """
    # The whole money-expression web is built from SQL STRINGS parsed by
    # selectExpr/F.expr (r14 opt, VERDICT r13 next #1; the r13
    # shingle-tree template): the Column-by-Column form paid one Py4J
    # round trip (~1 ms) per expression node — several hundred per
    # invocation, ~0.4-0.6 s of driver time on every pl01/pl02 call —
    # while a selectExpr stage is ONE round trip and the parse happens
    # JVM-side.
    amt_cents = cents_sql("(l_extendedprice * (1 - l_discount))")

    def chan_sum(flag: str) -> str:
        return (f"sum(CASE WHEN l_returnflag = '{flag}' THEN {amt_cents} "
                f"END) / 100.0D")

    def chan_last(flag: str) -> str:
        return f"max(CASE WHEN l_returnflag = '{flag}' THEN l_shipdate END)"

    aggs = (li.groupBy("l_orderkey").agg(
        F.expr(chan_sum("A")).alias("paid_a"),
        F.expr(chan_last("A")).alias("last_paid_a"),
        F.expr(chan_sum("N")).alias("paid_n"),
        F.expr(chan_last("N")).alias("last_paid_n"),
        F.expr(chan_sum("R")).alias("paid_r"),
        F.expr(chan_last("R")).alias("last_paid_r"),
        F.expr("sum(CASE WHEN l_returnflag = 'R' THEN "
               f"CASE WHEN l_linestatus = 'O' THEN {amt_cents} "
               "ELSE cast(0 as bigint) END END) / 100.0D").alias("disputed"),
    ))

    r2 = round2_sql

    j = (o.join(aggs, o.o_orderkey == aggs.l_orderkey, "left")
         .selectExpr(
             "o_orderkey AS loan_id",
             "o_custkey AS customer_id",
             "o_orderstatus", "o_orderdate",
             "coalesce(paid_a, 0.0D) AS paid_a",
             "coalesce(paid_n, 0.0D) AS paid_n",
             "coalesce(paid_r, 0.0D) AS paid_r",
             "coalesce(disputed, 0.0D) AS disputed",
             "greatest(last_paid_a, last_paid_n, last_paid_r)"
             " AS last_paid_at",
             f"{r2('o_totalprice * 0.7D')} AS principal",
             f"{r2('o_totalprice * 0.2D')} AS fee",
             "CASE WHEN o_orderstatus = 'F' THEN "
             f"{r2('o_totalprice * 0.05D')} ELSE 0.0D END AS late_fee",
         ))

    j = j.selectExpr(
        "*",
        f"{r2('fee * 0.16D')} AS tax_on_fee",
        f"{r2('late_fee * 0.16D')} AS tax_on_late_fee",
        f"{r2('paid_a + paid_n + paid_r - disputed')} AS total_paid",
    )
    # total_due is inlined in amount_paid (the Column form referenced the
    # expression tree, not the sibling output column)
    td = "principal + fee + tax_on_fee + late_fee + tax_on_late_fee"
    j = j.selectExpr(
        "*",
        f"{td} AS total_due",
        # repaid-loan forgiveness: settle tiny shortfalls on fulfilled loans
        "CASE WHEN (o_orderstatus = 'F') AND "
        f"(({td}) - total_paid >= 0.0D) AND "
        f"(({td}) - total_paid <= 1.0D) "
        f"THEN {td} ELSE total_paid END AS amount_paid",
    )
    j = j.selectExpr("*", "least(amount_paid, total_due) AS to_allocate")
    lf_due = "late_fee + tax_on_late_fee"
    j = j.selectExpr(
        "*",
        f"CASE WHEN to_allocate >= {lf_due} THEN late_fee "
        f"ELSE {r2('to_allocate / 1.16D')} END AS late_fee_paid",
        f"CASE WHEN to_allocate >= {lf_due} "
        f"THEN to_allocate - ({lf_due}) ELSE 0.0D END AS rem1",
    )
    fee_due = "fee + tax_on_fee"
    j = j.selectExpr(
        "*",
        f"CASE WHEN rem1 >= {fee_due} THEN fee "
        f"ELSE {r2('rem1 / 1.16D')} END AS fee_paid",
        f"CASE WHEN rem1 >= {fee_due} "
        f"THEN rem1 - ({fee_due}) ELSE 0.0D END AS rem2",
    )
    j = j.selectExpr(
        "*", f"{r2('least(rem2, principal)')} AS principal_paid")
    j = j.selectExpr(
        "*",
        "CASE WHEN principal_paid >= principal THEN last_paid_at END"
        " AS settled_at")

    ln = ("row_number() OVER (PARTITION BY customer_id"
          " ORDER BY o_orderdate, loan_id)")
    due_date = "to_date(o_orderdate + INTERVAL 30 DAYS)"
    end_date = ("CASE WHEN settled_at IS NOT NULL THEN to_date(settled_at)"
                f" ELSE to_date('{_PL01_AS_OF}') END")
    cols = [
        "loan_id", "customer_id",
        "CASE WHEN o_orderstatus = 'F' THEN 'Fulfilled' "
        "WHEN o_orderstatus = 'O' THEN 'Open' "
        "WHEN o_orderstatus = 'P' THEN 'Pending' "
        "ELSE 'Unknown' END AS status",
        f"CAST({ln} AS INT) AS loan_number",
        f"CASE WHEN {ln} = 1 THEN 'First' ELSE 'Repeat' END AS cohort",
        "principal", "fee", "late_fee",
        f"{r2('total_due')} AS total_due",
        "total_paid", "late_fee_paid", "fee_paid", "principal_paid",
        "last_paid_at", "settled_at",
        "(settled_at IS NOT NULL) AS is_settled",
        f"CAST(greatest(datediff({end_date}, {due_date}), 0) AS BIGINT)"
        " AS days_late",
    ]
    if with_accounting_cols:
        cols += [
            "o_orderdate AS issue_date",
            "tax_on_fee", "tax_on_late_fee",
            "disputed AS dispute_amount",
        ]
    return j.selectExpr(*cols)


# ---------------------------------------------------------------------------
# pl02 — the accounting-reports pipeline end-to-end
# (load_accounting_data.py:106-157 analog)
# ---------------------------------------------------------------------------
_PL02_AS_OF = "2000-06-15"  # accounting run date (injectable "now", D7)
_PL02_ERA = "1998-01-01"    # the '205-01-01' INTENT boundary, rebased into
#                             the star schema's 1995-2001 date range


def _oracle_pl02_sql() -> str:
    """DuckDB twin of pl02: the settlement CTE chain (shared with pl01)
    → accounting detail mapping → both monthly summaries + referral join
    + era fee-ratio, stacked."""
    import datetime as _dt

    from ..pipelines.accounting import _last_day_prev_month
    r2 = oracle_round2
    # cutoff derived from the SAME anchor the Spark side uses, so a
    # change to _PL02_AS_OF can never silently desynchronize the twins
    cutoff = _last_day_prev_month(
        _dt.datetime.fromisoformat(_PL02_AS_OF + " 00:00:00")).isoformat()

    def cdmx(e: str) -> str:
        return (f"CAST(({e}) AT TIME ZONE 'UTC' "
                f"AT TIME ZONE 'America/Mexico_City' AS TIMESTAMP)")

    acc_sums = ", ".join(
        f'{r2(f"SUM({src})")} AS "{name}"'
        for name, src in [
            ("PrincipalAmount", "principal"), ("Fee", "fee"),
            ("TaxOnFee", "tax_on_fee"), ("LateFee", "late_fee"),
            ("TaxOnLateFee", "tax_on_late_fee"),
            ("TotalAmountDue", "total_due"),
            ("PrincipalPaid", "principal_paid"), ("FeePaid", "fee_paid"),
            ("TaxOnFeePaid", "tax_on_fee_paid"),
            ("LateFeePaid", "late_fee_paid"),
            ("TaxOnLateFeePaid", "tax_on_late_fee_paid"),
            ("ApportionedAmountPaid", "apportioned"),
        ])
    set_sums = ", ".join(
        f'{r2(f"SUM({src})")} AS "{name}"'
        for name, src in [
            ("PrincipalPaid", "principal_paid"), ("FeePaid", "fee_paid"),
            ("TaxOnFeePaid", "tax_on_fee_paid"),
            ("LateFeePaid", "late_fee_paid"),
            ("TaxOnLateFeePaid", "tax_on_late_fee_paid"),
            ("ApportionedAmountPaid", "apportioned"),
            ("DisputeAmount", "disputed"),
        ])
    return f"""{_oracle_pl01_ctes()}
    , det0 AS (
        SELECT date_trunc('month', {cdmx('o_orderdate')}) AS issue_month,
               date_trunc('month', {cdmx('settled_at')}) AS settled_month,
               principal, fee, tax_on_fee, late_fee, tax_on_late_fee,
               {r2('total_due')} AS total_due,
               total_paid, principal_paid, fee_paid, late_fee_paid, disputed
        FROM settled WHERE o_orderstatus <> 'P'
    ), detail AS (
        SELECT *,
               {r2('fee_paid * 0.16')} AS tax_on_fee_paid,
               {r2('late_fee_paid * 0.16')} AS tax_on_late_fee_paid,
               CASE WHEN total_paid > total_due THEN {r2('total_due')}
                    ELSE {r2('total_paid')} END AS apportioned
        FROM det0
    ), acc AS (
        SELECT * FROM (
            SELECT issue_month, {acc_sums}
            FROM detail GROUP BY issue_month
        ) WHERE issue_month < TIMESTAMP '{cutoff} 00:00:00'
    ), setl AS (
        SELECT * FROM (
            SELECT settled_month, {set_sums}
            FROM detail WHERE settled_month IS NOT NULL
            GROUP BY settled_month
        ) WHERE settled_month <= TIMESTAMP '{cutoff} 00:00:00'
    ), referral AS (
        SELECT date_trunc('month', {cdmx('o_orderdate')}) AS ref_month,
               COUNT(*) AS n_ref,
               SUM({oracle_scaled_long('o_totalprice', 100.0)}) / 100.0 AS ref_amt
        FROM orders WHERE o_orderstatus = 'F' GROUP BY 1
    ), era AS (
        SELECT issue_month AS era_month,
               CAST(SUM({oracle_scaled_long('fee', 100.0)}) AS DOUBLE)
                   / CAST(SUM({oracle_scaled_long('principal', 100.0)}) AS DOUBLE) AS era_ratio
        FROM detail
        WHERE issue_month >= TIMESTAMP '{_PL02_ERA} 00:00:00'
        GROUP BY 1
    )
    SELECT 'accounting' AS report, a.issue_month AS month,
           a."PrincipalAmount", a."Fee", a."TaxOnFee", a."LateFee",
           a."TaxOnLateFee", a."TotalAmountDue", a."PrincipalPaid",
           a."FeePaid", a."TaxOnFeePaid", a."LateFeePaid",
           a."TaxOnLateFeePaid", a."ApportionedAmountPaid",
           CAST(NULL AS DOUBLE) AS "DisputeAmount",
           COALESCE(r.n_ref, 0) AS n_referral_payouts,
           COALESCE(r.ref_amt, 0.0) AS referral_amount,
           e.era_ratio AS era_fee_ratio
    FROM acc a
    LEFT JOIN referral r ON a.issue_month = r.ref_month
    LEFT JOIN era e ON a.issue_month = e.era_month
    UNION ALL
    SELECT 'settled' AS report, s.settled_month AS month,
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           s."PrincipalPaid", s."FeePaid", s."TaxOnFeePaid",
           s."LateFeePaid", s."TaxOnLateFeePaid", s."ApportionedAmountPaid",
           s."DisputeAmount",
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM setl s
    """


@query("pl02_accounting_reports", oracle=_oracle_pl02_sql())
def pl02_accounting_reports(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end accounting-reports pipeline analog
    (load_accounting_data.py:106-157): the pl01 settlement chain feeds
    the REAL pipelines/accounting.py functions — accounting_detail's
    35-column repayment detail (P1, with the overpaid/apportioned
    derivation and month truncations D4), then BOTH monthly money
    summaries (A5 issue-month, A6 settled-month with the explicit
    null-group drop), stacked with a report tag; the issue-month rows
    carry the referral-payouts join (load_accounting_data.py:179-193,
    the a07/T-SQL surface) and the era fee ratio from the detail slice
    whose boundary documents the reference's '205-01-01' typo: the
    INTENT (IssueMonthCDMX >= era start) is implemented, with the
    boundary injectable (detail_2025(era=...)) and rebased to
    1998-01-01 for the star schema's 1995-2001 date range.

    Role mapping: pl01's status strings map to the reference's codes —
    Fulfilled→2 (repaid, the UnderpaidFlag branch), Open→1 (active),
    Pending→6 (DisbursementFailed analog, EXCLUDED by accounting_detail,
    a third of orders — the filter is load-bearing). The accounting
    as_of is 2000-06-15 (cutoff = last day of prev month, 2000-05-31),
    distinct from pl01's DPD anchor: reports run at their own date.

    Scale plan: ONE settlement chain (lineitem agg exchange + custkey
    window exchange) fans into TWO consumers — the issue-month summary
    (with the era fee ratio fused into the same groupBy as two
    conditional cents sums: same key, so the era slice costs zero extra
    scans/exchanges/joins) and the settled-month summary, whose key
    genuinely differs. Both are tiny-key aggregates whose partial
    (map-side) phase compresses each branch to ~months rows before its
    exchange. The referral aggregate is an independent orders scan
    collapsing to ~months rows, broadcast into the join. Money sums are
    deterministic: every detail column is exactly 2-dp (round2'd
    upstream), so sum-then-round (the reference's .sum().round(2))
    cannot drift across engines within double's exact-integer range;
    the era ratio divides two exact cents sums (one float op at the
    end)."""
    import datetime as _dt

    from ..pipelines.accounting import (
        accounting_detail, accounting_summary, settled_summary,
    )

    fact = settlement_pipeline(load(spark, sf_dir, "orders"),
                               load(spark, sf_dir, "lineitem"),
                               with_accounting_cols=True)
    # One-parse selectExpr form (r14, VERDICT r13 next #1): one Py4J
    # round trip instead of one per Column node.
    cdmx = "from_utc_timestamp({c}, 'America/Mexico_City')"
    r2 = round2_sql
    policy = "CAST(loan_id % 3 AS INT)"
    mapped = fact.selectExpr(
        "customer_id AS UserId",
        "loan_id AS UserLoanId",
        "issue_date AS IssueDate",
        f"{cdmx.format(c='issue_date')} AS IssueDateCDMX",
        "(issue_date + INTERVAL 30 DAYS) AS DueDate",
        "CASE WHEN status = 'Fulfilled' THEN 2 WHEN status = 'Open' THEN 1"
        " ELSE 6 END AS LoanStatus",
        "loan_number AS LoanNumber",
        "CAST(days_late > 0 AS INT) AS IsLate",
        "principal AS PrincipalAmount",
        "fee AS Fee",
        "tax_on_fee AS TaxOnFee",
        "late_fee AS LateFee",
        "tax_on_late_fee AS TaxOnLateFee",
        "total_due AS TotalAmountDue",
        "late_fee_paid AS LateFeePaid",
        f"{r2('late_fee_paid * 0.16D')} AS TaxOnLateFeePaid",
        "fee_paid AS FeePaid",
        f"{r2('fee_paid * 0.16D')} AS TaxOnFeePaid",
        "principal_paid AS PrincipalPaid",
        "total_paid AS TotalAmountPaid",
        f"{policy} AS JitOfferPolicy",
        f"CASE WHEN {policy} = 0 THEN 'Standard' "
        f"WHEN {policy} = 1 THEN 'Jit' ELSE 'Promo' END"
        " AS JitOfferPolicyName",
        "last_paid_at AS LastPaidDate",
        f"{cdmx.format(c='last_paid_at')} AS LastPaidDateCDMX",
        "settled_at AS SettledAt",
        f"{cdmx.format(c='settled_at')} AS SettledAtCDMX",
        "dispute_amount AS DisputeAmount",
    )
    # The detail feeds TWO consumers (issue-month summary with the era
    # ratio FUSED into the same groupBy — VERDICT r9 #1: era and acc
    # group on the same issue_month, so the era slice rides acc's
    # exchange as two conditional cents sums instead of costing its own
    # detail scan + exchange + broadcast join — and the settled-month
    # summary, whose key genuinely differs). Exchange reuse does not
    # fire across the two (different grouping keys), so tracked_persist
    # materializes the settlement chain ONCE — O(orders) rows, the
    # standard materialize-the-fact-once shape for a multi-report job;
    # released when the caller's cache_scope() exits after the action.
    from ..operators.caching import tracked_persist
    detail = tracked_persist(accounting_detail(mapped))
    as_of = _dt.datetime.fromisoformat(_PL02_AS_OF + " 00:00:00")
    acc = accounting_summary(detail, as_of=as_of, era=_PL02_ERA)
    setl = settled_summary(detail, as_of=as_of)

    o = load(spark, sf_dir, "orders")
    ref = (o.filter("o_orderstatus = 'F'")
           .groupBy(F.expr(f"date_trunc('month', "
                           f"{cdmx.format(c='o_orderdate')})")
                    .alias("ref_month"))
           .agg(F.expr("count(1)").alias("n_ref"),
                F.expr(f"sum({cents_sql('o_totalprice')}) / 100.0D")
                .alias("ref_amt")))

    dnull = "CAST(NULL AS DOUBLE)"
    money_cols = ["PrincipalAmount", "Fee", "TaxOnFee", "LateFee",
                  "TaxOnLateFee", "TotalAmountDue", "PrincipalPaid",
                  "FeePaid", "TaxOnFeePaid", "LateFeePaid",
                  "TaxOnLateFeePaid", "ApportionedAmountPaid"]
    acc_out = (acc
               .join(ref, acc.IssueMonthCDMX == ref.ref_month, "left")
               .selectExpr(
                   "'accounting' AS report",
                   "IssueMonthCDMX AS month",
                   *money_cols,
                   f"{dnull} AS DisputeAmount",
                   "coalesce(n_ref, 0) AS n_referral_payouts",
                   "coalesce(ref_amt, 0.0D) AS referral_amount",
                   "era_fee_ratio",
               ))
    set_out = setl.selectExpr(
        "'settled' AS report",
        "SettledAtMonthCDMX AS month",
        *[f"{dnull} AS {c}" for c in money_cols[:6]],
        *money_cols[6:12],
        "DisputeAmount",
        "CAST(NULL AS BIGINT) AS n_referral_payouts",
        f"{dnull} AS referral_amount",
        f"{dnull} AS era_fee_ratio",
    )
    return acc_out.unionByName(set_out)


# ---------------------------------------------------------------------------
# pl03 — the growth-data month refresh end-to-end
# (extract_growth_data.py:78-175 analog)
# ---------------------------------------------------------------------------
_PL03_REFRESH = ("1995_01", "1995_02", "1996_06")


def _oracle_pl03_sql() -> str:
    months = ", ".join(f"'{m}'" for m in _PL03_REFRESH)
    cts = "CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)"
    return f"""
    WITH hist AS (
        SELECT o_orderkey AS ad_id,
               strftime(o_orderdate, '%Y_%m') AS month_tag,
               'history' AS source,
               o_orderdate AS install_day,
               {cts} / 100.0 AS cost,
               o_orderkey % 97 AS clicks
        FROM orders
        WHERE strftime(o_orderdate, '%Y_%m') NOT IN ({months})
    ), refreshed AS (
        SELECT o_orderkey AS ad_id,
               strftime(o_orderdate, '%Y_%m') AS month_tag,
               'refresh' AS source,
               date_trunc('day', o_orderdate) AS install_day,
               CAST({cts} AS DOUBLE) / 100.0 AS cost,
               o_orderkey % 97 AS clicks
        FROM orders
        WHERE strftime(o_orderdate, '%Y_%m') IN ({months})
          AND o_orderkey % 50 <> 0
    )
    SELECT * FROM hist UNION ALL SELECT * FROM refreshed
    """


@query("pl03_growth_month_refresh", oracle=_oracle_pl03_sql())
def pl03_growth_month_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end growth-data month refresh analog
    (extract_growth_data.py:78-175), as one query: history rows OUTSIDE
    the refresh months pass through (the O3 month anti-filter), while
    the refresh months re-enter through the REAL raw-export transform
    (pipelines/growth_data.transform_facebook_raw): a synthesized raw
    frame in the export's own shape — "MMM d, yyyy" date strings,
    $-and-thousands-comma money strings, a null-Ad summary row (every
    50th key) — goes through P17 numeric cleaning, the date parse, the
    summary-row drop (P7) and the snake_case renames (P2), then appends
    by name. The parquet-layout version of this (dynamic partition
    overwrite, O(new month) I/O) is refresh_monthly_partitions, pinned
    by pytest; this row is its oracle-checkable dataflow twin.

    Scale plan: both branches are single-scan, shuffle-free maps over
    orders (the month predicate reaches the scan on each branch); the
    union is a plan-level concat. At 100 TB on a month_tag-partitioned
    layout both month predicates become partition pruning — neither
    branch reads a byte of the other's months. Money round-trips
    exactly: the $-comma string is built from exact cents and cleaned
    back to the same integer, so cost is bit-equal to round2(price) in
    both engines."""
    from ..functions.money import cents
    from ..pipelines.growth_data import transform_facebook_raw

    o = load(spark, sf_dir, "orders")
    tag = F.date_format("o_orderdate", "yyyy_MM")
    history = (o.filter(~tag.isin(*_PL03_REFRESH))
               .select(F.col("o_orderkey").alias("ad_id"),
                       tag.alias("month_tag"),
                       F.lit("history").alias("source"),
                       F.col("o_orderdate").alias("install_day"),
                       round2("o_totalprice").alias("cost"),
                       (F.col("o_orderkey") % 97).alias("clicks")))
    # the revised export for the refresh months, in the RAW export shape
    raw = (o.filter(tag.isin(*_PL03_REFRESH))
           .withColumn("_c", cents("o_totalprice").cast("string"))
           .select(
               F.col("o_orderkey").cast("string").alias("Ad ID"),
               F.when(F.col("o_orderkey") % 50 == 0,
                      F.lit(None).cast("string"))
                .otherwise(F.concat(F.lit("ad-"), F.col("o_orderkey")))
                .alias("Ad"),
               F.date_format("o_orderdate", "MMM d, yyyy")
                .alias("Install Day"),
               F.expr(
                   "CASE WHEN length(_c) > 3 THEN concat('$', "
                   "substring(_c, 1, length(_c)-3), ',', "
                   "substring(_c, length(_c)-2, 3)) "
                   "ELSE concat('$', _c) END").alias("Cost (sum)"),
               (F.col("o_orderkey") % 97).cast("string")
               .alias("Clicks (sum)"),
           ))
    refreshed = (transform_facebook_raw(raw)
                 .select(F.col("ad_id").cast("long").alias("ad_id"),
                         F.date_format("install_day", "yyyy_MM")
                         .alias("month_tag"),
                         F.lit("refresh").alias("source"),
                         F.col("install_day"),
                         (F.col("cost") / F.lit(100.0)).alias("cost"),
                         F.col("clicks").cast("long").alias("clicks")))
    return history.unionByName(refreshed)


# ---------------------------------------------------------------------------
# pl04 — the arcus payment-processor enrichment end-to-end
# (extract_arcus_transactions.py:9-71 analog)
# ---------------------------------------------------------------------------
_PL04_MIN_CREATED = "2024-01-10"


def _oracle_pl04_sql() -> str:
    def cdmx(e: str) -> str:
        return (f"CAST(({e}) AT TIME ZONE 'UTC' "
                f"AT TIME ZONE 'America/Mexico_City' AS TIMESTAMP)")

    completed = "CASE WHEN e.event_id % 3 = 0 THEN e.ts + INTERVAL 2 HOUR END"
    return f"""
    WITH ulat AS (
        SELECT event_id AS id,
               CASE WHEN event_id % 7 = 0 THEN NULL
                    ELSE CAST(event_id * 10 AS DOUBLE) END AS user_loan_id
        FROM events WHERE event_id % 4 <> 0
    ), ua AS (
        SELECT event_id AS id FROM events WHERE event_id % 10 = 0
    )
    SELECT e.event_id AS "ArcusTransactionId",
           'ext-' || CAST(e.event_id AS VARCHAR) AS "ExternalId",
           e.props AS "Reference",
           e.user_id AS "ArcusCustomerId",
           COALESCE(CAST(CAST(l.user_loan_id AS BIGINT) AS VARCHAR),
                    'None') AS "UserLoanId",
           e.event_type AS "Description",
           e.value AS "Amount",
           e.ts AS "CreatedAt",
           {cdmx('e.ts')} AS "CreatedAtCDMX",
           e.ts + INTERVAL 1 HOUR AS "ModifiedAt",
           {cdmx('e.ts + INTERVAL 1 HOUR')} AS "ModifiedAtCDMX",
           {completed} AS "CompletedAt",
           {cdmx(completed)} AS "CompletedAtCDMX",
           CAST(e.event_id % 2 AS INTEGER) AS "IsDistribution",
           CASE WHEN e.event_id % 2 = 1 THEN 'Out' ELSE 'In' END
               AS "TransactionType",
           CAST(e.event_id % 5 AS INTEGER) AS "Status",
           CASE CAST(e.event_id % 5 AS INTEGER)
                WHEN 0 THEN 'Pending' WHEN 1 THEN 'Succeeded'
                WHEN 2 THEN 'Failed' WHEN 3 THEN 'Refunded'
                WHEN 4 THEN 'Returned' END AS "StatusDescription",
           CASE WHEN e.event_id % 3 = 0 THEN 0 ELSE 1 END
               AS "TransactionDirection",
           CASE WHEN e.event_id % 3 = 0 THEN 'Credit' ELSE 'Debit' END
               AS "TransactionDirectionDescription",
           CAST(e.user_id AS VARCHAR) AS "ExternalAccountNumber",
           'acct-' || CAST(e.user_id AS VARCHAR)
               AS "ExternalAccountIdentifier",
           'name-' || CAST(e.user_id % 20 AS VARCHAR)
               AS "ExternalAccountName",
           'trk-' || CAST(e.event_id AS VARCHAR) AS "TrackingId",
           CASE WHEN u.id IS NOT NULL THEN 1 ELSE 0 END AS "IsUnallocated",
           CASE WHEN e.event_id % 5 = 2 THEN 'E42' END AS "FailureCode"
    FROM events e
    LEFT JOIN ulat l ON e.event_id = l.id
    LEFT JOIN ua u ON e.event_id = u.id
    WHERE e.ts >= TIMESTAMP '{_PL04_MIN_CREATED} 00:00:00'
    """


@query("pl04_arcus_enrichment", oracle=_oracle_pl04_sql())
def pl04_arcus_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end arcus-transactions enrichment analog
    (extract_arcus_transactions.py:9-71), driving the REAL
    pipelines/arcus_transactions.arcus_transactions function: the
    events table plays the ArcusTransactions fact (event_id =
    transaction id, ts = CreatedAt, value = Amount), a derived loan
    bridge plays UserLoanArcusTransactions (3 of 4 ids bridged, 1 in 7
    bridged loans null — both feed the U6 null-safe int→string 'None'
    path), and a derived unallocated table (every 10th id) feeds the
    P18 marked-semi-join IsUnallocated flag. The chain exercises the
    pushed-down min-created-at predicate (parameterized; the reference
    hard-codes it), both left joins, the status/direction/type enum
    decodes (P9), and the three UTC→CDMX wall-clock pairs (D1).

    Scale plan: the date predicate reaches the fact scan before either
    join; both right sides are id-keyed single-column projections that
    broadcast at this scale and hash-join on the fact's key at 100 TB
    (no row explosion — both bridges are ≤1:1 by construction, as the
    reference's are by PK). Everything else is map-side expression
    work; Amount passes through untouched (no float arithmetic to
    drift). The chain is stateless map + two stream-static-joinable
    left joins, so the SAME function runs unchanged on a transaction
    STREAM (streaming/enrichment.py twin, batch≡stream pinned)."""
    from ..pipelines.arcus_transactions import arcus_transactions

    ev = load(spark, sf_dir, "events")
    ar, ulat, ua = arcus_star_inputs(ev)
    return arcus_transactions(
        {"arcus_transactions": ar,
         "user_loan_arcus_transactions": ulat,
         "unallocated_payment_arcus_transactions": ua},
        min_created_at=_PL04_MIN_CREATED)


def arcus_star_inputs(ev: DataFrame) -> tuple[DataFrame, DataFrame,
                                              DataFrame]:
    """Derive the (ArcusTransactions, loan bridge, unallocated) role
    frames from an events frame — shared by pl04 and its streaming twin
    (the derivation is pure column expressions, so it applies to a
    streaming events frame unchanged)."""
    eid = F.col("event_id")
    ar = ev.select(
        eid.alias("ArcusTransactionId"),
        F.concat(F.lit("ext-"), eid).alias("ExternalId"),
        F.col("props").alias("Reference"),
        F.col("user_id").alias("ArcusCustomerId"),
        F.col("event_type").alias("Description"),
        F.col("value").alias("Amount"),
        F.col("ts").alias("CreatedAt"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ModifiedAt"),
        F.when(eid % 3 == 0, F.col("ts") + F.expr("INTERVAL 2 HOURS"))
         .alias("CompletedAt"),
        (eid % 2).cast("int").alias("IsDistribution"),
        (eid % 5).cast("int").alias("Status"),
        F.when(eid % 3 == 0, 0).otherwise(1).alias("TransactionDirection"),
        F.col("user_id").cast("string").alias("ExternalAccountNumber"),
        F.concat(F.lit("acct-"), F.col("user_id"))
         .alias("ExternalAccountIdentifier"),
        F.concat(F.lit("name-"), F.col("user_id") % 20)
         .alias("ExternalAccountName"),
        F.concat(F.lit("trk-"), eid).alias("TrackingId"),
        F.when(eid % 5 == 2, F.lit("E42")).alias("FailureCode"),
    )
    ulat = (ev.filter(eid % 4 != 0)
            .select(eid.alias("ArcusTransactionId"),
                    F.when(eid % 7 == 0, F.lit(None).cast("double"))
                     .otherwise((eid * 10).cast("double"))
                     .alias("UserLoanId")))
    ua = ev.filter(eid % 10 == 0).select(eid.alias("ArcusTransactionId"))
    return ar, ulat, ua
