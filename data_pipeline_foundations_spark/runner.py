"""DAG orchestration for the reference ETL, replacing cron_jobs/run_etl.sh.

The reference runs its seven extract scripts as a flat bash list with NO
``set -e`` (cron_jobs/run_etl.sh:11-23): a failed ``extract_loan_detail``
still lets ``create_duckdb.py`` publish a warehouse with stale loan data
— the silent-continue hazard SURVEY.md §7.1 calls out. This runner makes
the dependency graph EXPLICIT and the failure semantics sane:

  - a failed stage marks every transitive dependent ``skipped`` (so
    nothing downstream publishes from a missing input),
  - independent branches still run (one broken pipeline doesn't take
    down the nightly calendar refresh),
  - every stage's outcome (ok / failed / skipped+blocker) is returned,
    so the caller can alert with the exact blast radius.

Stages are pure: each receives the dict of its dependencies' results
and returns a value (typically a lazy DataFrame). A ``sink`` callback
materializes terminal outputs (the create_duckdb analog); failures there
are stage failures like any other.

Shared outputs are computed once per run. A lazy DataFrame handed to N
consumers is otherwise re-planned and re-executed by each consumer's
action — in the reference DAG ``publish`` would re-run the whole
``loan_detail`` plan for each of its four published descendants. So a
stage's DataFrame with two or more downstream consumers is
``persist()``-ed as soon as it is returned, the analog of the reference
materializing its fact table to parquet and reading it back
(load_accounting_data.py:36). The persist is lazy: it launches no job
of its own (an eager ``count()`` would scan the whole plan once more);
the first consumer action fills the cache while doing work it had to do
anyway. The cache lives exactly as long as the run: ``run_dag`` runs
the stages in one ``cache_scope()`` (operators/caching.py), which
unpersists the shared outputs, and whatever the stages registered
themselves with ``tracked_persist``, when the run returns or raises. A
DataFrame a stage cached itself is not persisted again.
"""

from __future__ import annotations

import datetime as _dt
from collections import Counter
from dataclasses import dataclass, field
from typing import Any, Callable, Mapping

from pyspark.sql import DataFrame, SparkSession

from .operators.caching import cache_scope, tracked_persist

OK, FAILED, SKIPPED = "ok", "failed", "skipped"


@dataclass(frozen=True)
class Stage:
    """One node: ``fn`` receives {dep_name: dep_result} for its deps."""
    name: str
    fn: Callable[[dict[str, Any]], Any]
    deps: tuple[str, ...] = ()


@dataclass
class StageResult:
    status: str
    value: Any = None
    error: BaseException | None = None
    blocked_by: tuple[str, ...] = field(default_factory=tuple)


def run_dag(stages: list[Stage]) -> dict[str, StageResult]:
    """Execute stages in dependency order (insertion-order-stable Kahn).

    A DataFrame result with two or more consumers is cached for the
    length of the run (see the module docstring); the results returned
    are no longer cached.

    Raises ValueError on duplicate names, unknown deps, or cycles —
    graph bugs are programming errors, not runtime stage failures.
    """
    by_name: dict[str, Stage] = {}
    for s in stages:
        if s.name in by_name:
            raise ValueError(f"duplicate stage name: {s.name}")
        by_name[s.name] = s
    for s in stages:
        for d in s.deps:
            if d not in by_name:
                raise ValueError(f"stage {s.name!r} depends on unknown {d!r}")

    # Kahn's algorithm, preserving declaration order among ready stages
    # so runs are reproducible.
    order: list[Stage] = []
    done: set[str] = set()
    pending = list(stages)
    while pending:
        ready = [s for s in pending if all(d in done for d in s.deps)]
        if not ready:
            cyc = ", ".join(s.name for s in pending)
            raise ValueError(f"dependency cycle among: {cyc}")
        for s in ready:
            order.append(s)
            done.add(s.name)
        pending = [s for s in pending if s.name not in done]

    consumers = Counter(d for s in stages for d in set(s.deps))
    results: dict[str, StageResult] = {}
    with cache_scope():  # this run's shared-output cache
        for s in order:
            bad = tuple(d for d in s.deps if results[d].status != OK)
            if bad:
                results[s.name] = StageResult(SKIPPED, blocked_by=bad)
                continue
            try:
                value = s.fn({d: results[d].value for d in s.deps})
            except Exception as exc:  # per-stage isolation: record, keep going
                results[s.name] = StageResult(FAILED, error=exc)
                continue
            if (consumers[s.name] >= 2 and isinstance(value, DataFrame)
                    and not value.is_cached):
                tracked_persist(value, eager=False)
            results[s.name] = StageResult(OK, value=value)
    return results


def reference_etl_dag(
    spark: SparkSession,
    inputs: Mapping[str, DataFrame],
    *,
    as_of: _dt.datetime,
    sink: Callable[[str, DataFrame], None] | None = None,
) -> list[Stage]:
    """The reference's nightly ETL as an explicit DAG over FIXTURES-shaped
    inputs (run_etl.sh:11-23 order, with the real data deps made visible):

        collections_strategies ──▶ loan_detail ──▶ accounting_{detail,
                                                     summary, settled, 2025}
        calendar                 (independent)
        arcus_transactions       (independent)
        growth_facebook          (independent)
        publish                  (all terminal outputs; create_duckdb analog)

    ``sink(table_name, df)`` materializes each published output; omit it
    to build the DataFrames without writing (the metabase sync step is a
    documented no-op — Spark's catalog is self-describing).
    """
    from .operators.calendar import calendar_dim
    from .pipelines.accounting import (
        accounting_detail, accounting_summary, detail_2025, settled_summary,
    )
    from .pipelines.arcus_transactions import arcus_transactions
    from .pipelines.collections_strategies import collections_strategies
    from .pipelines.growth_data import transform_facebook_raw
    from .pipelines.loan_detail import loan_detail

    stages = [
        Stage("collections_strategies",
              lambda r: collections_strategies(inputs["raw_strategies"])),
        Stage("loan_detail",
              lambda r: loan_detail(
                  {**inputs,
                   "collections_strategies": r["collections_strategies"]},
                  as_of=as_of),
              deps=("collections_strategies",)),
        Stage("accounting_detail",
              lambda r: accounting_detail(r["loan_detail"]),
              deps=("loan_detail",)),
        Stage("accounting_summary",
              lambda r: accounting_summary(r["accounting_detail"], as_of=as_of),
              deps=("accounting_detail",)),
        Stage("settled_summary",
              lambda r: settled_summary(r["accounting_detail"], as_of=as_of),
              deps=("accounting_detail",)),
        Stage("detail_2025",
              lambda r: detail_2025(r["accounting_detail"]),
              deps=("accounting_detail",)),
        Stage("calendar",
              lambda r: calendar_dim(spark, as_of=as_of.date().isoformat())),
        Stage("arcus_transactions",
              lambda r: arcus_transactions(inputs)),
        Stage("growth_facebook",
              lambda r: transform_facebook_raw(inputs["facebook_raw"])),
    ]
    if sink is not None:
        published = ("loan_detail", "accounting_summary", "settled_summary",
                     "detail_2025", "calendar", "arcus_transactions",
                     "growth_facebook")

        def _publish(r: dict[str, Any]) -> int:
            for name in published:
                sink(name, r[name])
            return len(published)

        stages.append(Stage("publish", _publish, deps=published))
    return stages
