"""Payment waterfall apportionment as closed-form column expressions.

Reference semantics (extract_loan_detail.py:198-234): allocate
``min(TotalAmountPaid, TotalAmountDue)`` across buckets in priority order
(1) LateFee + its 16% tax, (2) Fee + its tax, (3) Principal. A partially
covered bucket is grossed down by ``round(remaining/1.16, 2)`` with the tax
taking the remainder; principal absorbs what's left, capped at the principal
amount. The reference runs this as a row-wise ``apply(axis=1)`` Python UDF —
the single slowest construct in its codebase.

Here the waterfall is a pure expression tree: ``least``/``when`` cascades
that Catalyst folds into one whole-stage-codegen projection. No Python, no
serialization, linear scan — at 100 TB this runs at parquet-scan speed.

Rounding: the reference uses Python ``round`` (half-even). The
oracle-checked analog uses the engine-agnostic floor-based half-up from
functions.money (bit-identical in Spark and DuckDB — neither engine's
native ``round`` matches the other's); the fixture-faithful pipeline
variant passes ``half_even=True`` to match Python ``round`` instead. Both
agree except on exact-tie doubles, which the property tests quantify.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions.money import bround2_sql, round2_sql
from ..functions.sql import sql_ident


def _bucket_sql(remaining: str, amount: str, tax: str,
                rnd) -> tuple[str, str, str]:
    """Allocate one (amount + tax) bucket out of ``remaining``.

    Returns SQL strings (amount_paid, tax_paid, remaining_after), for the
    one-parse ``selectExpr`` form; ``rnd`` maps an expression string to
    its rounded string. Full-coverage branch pays the bucket exactly;
    partial branch grosses down by 1.16. Every interpolated
    subexpression is parenthesized so operator precedence can never
    reshape the tree."""
    full = f"({remaining}) >= (({amount}) + ({tax}))"
    part_amount = rnd(f"({remaining}) / 1.16D")
    amount_paid = f"CASE WHEN {full} THEN {amount} ELSE {part_amount} END"
    tax_paid = (f"CASE WHEN {full} THEN {tax} "
                f"ELSE {rnd(f'({remaining}) - ({part_amount})')} END")
    remaining_after = (f"CASE WHEN {full} "
                       f"THEN ({remaining}) - (({amount}) + ({tax})) "
                       f"ELSE 0.0D END")
    return amount_paid, tax_paid, remaining_after


def waterfall_columns(df: DataFrame, *, principal: str = "principal",
                      fee: str = "fee", late_fee: str = "late_fee",
                      amount_paid: str = "amount_paid",
                      half_even: bool = False) -> DataFrame:
    """Append the five apportionment columns + totals to ``df``.

    Expects 2-dp double columns. ``half_even=True`` reproduces Python
    ``round`` (the reference UDF) exactly; default half-up matches DuckDB.

    The expression web is assembled as SQL strings and parsed by ONE
    ``selectExpr`` call (r14 opt, the r13 shingle-tree template): the
    Column-by-Column form paid one Py4J round trip per node — ~150 per
    invocation across the eight deep output trees — while this form is
    one round trip with JVM-side parsing. Catalyst-canonical equality
    with the Column form (both rounding modes) is pinned by
    tests/test_r14_optimizations.py.
    """
    rnd = bround2_sql if half_even else round2_sql
    p, f_, lf = sql_ident(principal), sql_ident(fee), sql_ident(late_fee)
    tax_on_fee = rnd(f"({f_}) * 0.16D")
    tax_on_late = rnd(f"({lf}) * 0.16D")
    total_due = f"({p}) + ({f_}) + ({tax_on_fee}) + ({lf}) + ({tax_on_late})"
    alloc = f"least({sql_ident(amount_paid)}, {total_due})"

    lf_paid, lf_tax_paid, rem1 = _bucket_sql(alloc, lf, tax_on_late, rnd)
    fee_paid, fee_tax_paid, rem2 = _bucket_sql(rem1, f_, tax_on_fee, rnd)
    principal_paid = f"least({rem2}, {p})"

    return df.selectExpr(
        "*",
        f"{tax_on_fee} AS tax_on_fee",
        f"{tax_on_late} AS tax_on_late_fee",
        f"{rnd(total_due)} AS total_due",
        f"{lf_paid} AS late_fee_paid",
        f"{lf_tax_paid} AS tax_on_late_fee_paid",
        f"{fee_paid} AS fee_paid",
        f"{fee_tax_paid} AS tax_on_fee_paid",
        f"{rnd(principal_paid)} AS principal_paid",
    )


def oracle_waterfall_sql() -> str:
    """DuckDB SQL computing the identical analog over orders+lineitem.

    Mirrors plans/pipelines.u01_waterfall_apportionment: each order is a
    loan; buckets derive from o_totalprice; paid = discounted lineitem
    revenue. Expression tree matches waterfall_columns step for step.
    """
    def r2(e: str) -> str:
        # engine-agnostic half-up, mirrors functions.money.round2
        return f"(CAST(FLOOR(({e}) * 100.0 + 0.5) AS BIGINT) / 100.0)"

    return f"""
    WITH paid AS (
        SELECT l_orderkey,
               SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100.0 + 0.5) AS BIGINT)) / 100.0
                   AS amount_paid
        FROM lineitem GROUP BY l_orderkey
    ), base AS (
        SELECT o.o_orderkey AS loan_id,
               {r2('o.o_totalprice * 0.70')} AS principal,
               {r2('o.o_totalprice * 0.20')} AS fee,
               CASE WHEN o.o_orderstatus = 'F'
                    THEN {r2('o.o_totalprice * 0.05')} ELSE 0.0 END AS late_fee,
               COALESCE(p.amount_paid, 0.0) AS amount_paid
        FROM orders o LEFT JOIN paid p ON o.o_orderkey = p.l_orderkey
    ), taxed AS (
        SELECT *,
               {r2('fee * 0.16')} AS tax_on_fee,
               {r2('late_fee * 0.16')} AS tax_on_late_fee
        FROM base
    ), alloc AS (
        SELECT *,
               principal + fee + tax_on_fee + late_fee + tax_on_late_fee AS total_due_raw,
               LEAST(amount_paid, principal + fee + tax_on_fee + late_fee + tax_on_late_fee)
                   AS to_allocate
        FROM taxed
    ), b1 AS (
        SELECT *,
               CASE WHEN to_allocate >= late_fee + tax_on_late_fee
                    THEN late_fee ELSE {r2('to_allocate / 1.16')} END AS late_fee_paid,
               CASE WHEN to_allocate >= late_fee + tax_on_late_fee
                    THEN tax_on_late_fee
                    ELSE {r2(f"to_allocate - {r2('to_allocate / 1.16')}")} END
                   AS tax_on_late_fee_paid,
               CASE WHEN to_allocate >= late_fee + tax_on_late_fee
                    THEN to_allocate - (late_fee + tax_on_late_fee) ELSE 0.0 END AS rem1
        FROM alloc
    ), b2 AS (
        SELECT *,
               CASE WHEN rem1 >= fee + tax_on_fee
                    THEN fee ELSE {r2('rem1 / 1.16')} END AS fee_paid,
               CASE WHEN rem1 >= fee + tax_on_fee
                    THEN tax_on_fee
                    ELSE {r2(f"rem1 - {r2('rem1 / 1.16')}")} END AS tax_on_fee_paid,
               CASE WHEN rem1 >= fee + tax_on_fee
                    THEN rem1 - (fee + tax_on_fee) ELSE 0.0 END AS rem2
        FROM b1
    )
    SELECT loan_id, principal, fee, late_fee, amount_paid,
           tax_on_fee, tax_on_late_fee,
           {r2('total_due_raw')} AS total_due,
           late_fee_paid, tax_on_late_fee_paid, fee_paid, tax_on_fee_paid,
           {r2('LEAST(rem2, principal)')} AS principal_paid
    FROM b2
    """
