"""Data-quality constraint checking (Deequ-style, one-pass).

The validation layer a production warehouse runs before publishing a
table (Schelter et al., "Automating large-scale data quality
verification", VLDB 2018 — the Deequ system's check model, re-expressed
as plain aggregates): every declared constraint compiles to a
conditional SUM inside ONE aggregate pass over the table, plus one
count-distinct per uniqueness rule, so the whole report costs a single
scan and a singleton reduce — no per-rule job, no driver-side row loop.

Report schema: (constraint, n_rows, n_violations, passed). A violation
COUNT (not a boolean) is deliberate: at 100 TB the actionable signal is
"how broken" — a one-row regression and a half-corrupt load need
different responses — and the count is what a quarantine/alert threshold
consumes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def constraint_report(df: DataFrame,
                      rules: list[tuple[str, Column]],
                      unique: list[tuple[str, list[str]]] | None = None
                      ) -> DataFrame:
    """One-pass constraint report.

    ``rules``: (constraint_name, violation_condition Column) — the
    condition is TRUE for a violating row (e.g. ``F.col("x").isNull()``).
    ``unique``: (constraint_name, [cols]) — violations counted as
    n_rows − n_distinct(cols) (0 when the key is unique).

    Uniqueness is NULL-SAFE (ADVICE r4): the distinct count runs over a
    struct of the key columns, so rows with null key fields participate
    with GROUP-BY equality ((null, 1) == (null, 1)) — identical to the
    DuckDB oracle's ``COUNT(DISTINCT (a, b))`` row-value semantics. A
    bare ``count_distinct(a, b)`` would skip any row with a null field,
    silently under-counting violations on nullable keys.
    """
    unique = unique or []
    aggs = [F.count(F.lit(1)).alias("_n")]
    aggs += [F.sum(cond.cast("long")).alias(f"_v{i}")
             for i, (_, cond) in enumerate(rules)]
    aggs += [F.count_distinct(F.struct(*[F.col(c) for c in cols]))
             .alias(f"_u{j}")
             for j, (_, cols) in enumerate(unique)]
    row = df.agg(*aggs)
    entries = [
        F.struct(F.lit(name).alias("constraint"),
                 F.coalesce(F.col(f"_v{i}"), F.lit(0)).alias("n_violations"))
        for i, (name, _) in enumerate(rules)
    ] + [
        F.struct(F.lit(name).alias("constraint"),
                 (F.col("_n") - F.col(f"_u{j}")).alias("n_violations"))
        for j, (name, _) in enumerate(unique)
    ]
    return (row.select(F.col("_n").alias("n_rows"),
                       F.explode(F.array(*entries)).alias("e"))
            .select(F.col("e.constraint").alias("constraint"),
                    F.col("n_rows"),
                    F.col("e.n_violations").alias("n_violations"),
                    (F.col("e.n_violations") == 0).alias("passed")))
