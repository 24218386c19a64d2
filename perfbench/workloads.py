"""The benchmark's workloads.

All three are one client in a closed loop against ``local[nproc]``: each
operation starts when the previous one has finished. A *pass* runs every
operation of the workload once, in a fixed order (the seed picks the inputs,
not the order, so the operation that pays the cold JVM's warm-up is the
same in every run).

* ``olap_star``: registry queries from ``plans/relational`` over the star
  schema. Many short multi-stage plans; scans, shuffles and per-stage
  dispatch dominate, plan construction does almost nothing.
* ``curation_llm``: heavy curation operators over ``documents`` and
  ``embeddings``: driver-side construction, an eager persist, model
  collects and the Arrow kernels.
* ``etl_nightly``: the reference nightly ETL: drain the Arcus CSV drops with
  ``streaming.file_ingest.run_available_now``, run
  ``runner.run_dag(reference_etl_dag(..., sink=parquet overwrite))``, then
  ``sources.warehouse.rebuild_warehouse`` from the published parquet.

A registry operation builds the plan (``registry.all_queries()[q].fn``),
executes it to the driver (``toPandas``) and releases cached intermediates
(``operators.caching.release_cached_intermediates``). Its rows feed the
correctness gate (compared with the query's DuckDB oracle, untimed), so a
pass costs one execution per operation.
"""

from __future__ import annotations

import os
from collections import defaultdict
from dataclasses import dataclass, field

import gen

# Operation sets, by registry prefix. Sized so that one cold pass of every
# workload fits the run budget (README.md, "Sizing").
OLAP_OPS = ("q01", "q03", "q05", "q06", "q09", "q10", "q12", "q13", "q18",
            "q21", "a10", "j01", "j10", "o01", "p06", "w02")
CURATION_OPS = ("x06", "x80", "x85", "x90")
STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events")
CORPUS_TABLES = ("documents", "embeddings")
ETL_TABLES = ("user_loans", "user_loan_subscriptions", "loan_offers",
              "arcus_transactions", "user_loan_arcus_transactions",
              "unallocated_payment_arcus_transactions", "stripe_transactions",
              "user_loan_stripe_transactions", "stripe_dispute",
              "openpay_transactions", "user_loan_openpay_transactions",
              "raw_strategies", "facebook_raw")
PUBLISHED = ("loan_detail", "accounting_summary", "settled_summary",
             "detail_2025", "calendar", "arcus_transactions",
             "growth_facebook")
DAG_STAGES = ("collections_strategies", "loan_detail", "accounting_detail",
              "accounting_summary", "settled_summary", "detail_2025",
              "calendar", "arcus_transactions", "growth_facebook", "publish")


@dataclass
class Ctx:
    """What one pass needs: the live session and the tracing hooks."""
    spark: object
    tracer: object
    work: str
    traced: bool = False
    py4j: object = None
    listener: object = None
    extra: dict = field(default_factory=dict)

    def group(self, name: str) -> None:
        if self.traced:
            self.spark.sparkContext.setJobGroup(name, name)


class Workload:
    name = ""
    registry = False

    def generate(self, work: str, seed: int) -> dict:
        raise NotImplementedError

    def setup(self, spark) -> None:
        """First load of every input table (the per-session cost)."""
        raise NotImplementedError

    def run_pass(self, ctx: Ctx, check: bool) -> list[dict]:
        raise NotImplementedError


def _timed(ctx: Ctx, op: str, phase: str, fn, *args):
    ctx.group(f"{op}:{phase}")
    with ctx.tracer.span(phase, op=op) as s:
        out = fn(*args)
    return out, s["end"] - s["start"]


# ---------------------------------------------------------------------------
# registry workloads
# ---------------------------------------------------------------------------
class RegistryWorkload(Workload):
    registry = True

    def __init__(self, name: str, sf: float, corpus_sf: float,
                 prefixes: tuple[str, ...], tables: tuple[str, ...]):
        self.name, self.sf, self.corpus_sf = name, sf, corpus_sf
        self.prefixes, self.tables = prefixes, tables
        self.specs: dict = {}
        self.sf_dir = ""

    def generate(self, work: str, seed: int) -> dict:
        self.sf_dir = os.path.join(work, "inputs")
        rows = gen.write_star(self.sf_dir, seed, self.sf, self.corpus_sf)
        size = sum(os.path.getsize(os.path.join(self.sf_dir, f))
                   for f in os.listdir(self.sf_dir))
        return {"sf": self.sf, "corpus_sf": self.corpus_sf, "rows": rows,
                "bytes": size}

    def load_specs(self) -> None:
        from data_pipeline_foundations_spark.registry import all_queries
        self.specs = {n: s for n, s in sorted(all_queries().items())
                      if n.split("_")[0] in self.prefixes}

    def setup(self, spark) -> None:
        from data_pipeline_foundations_spark.tables import load
        for name in self.tables:
            load(spark, self.sf_dir, name)

    def oracle_results(self, oracle) -> dict:
        return {n: oracle.run(s.oracle) for n, s in self.specs.items()}

    def run_pass(self, ctx: Ctx, check: bool) -> list[dict]:
        from data_pipeline_foundations_spark.operators.caching import (
            release_cached_intermediates,
        )
        from oracle import same

        recs = []
        for name, spec in self.specs.items():
            rec = {"op": name, "build_s": 0.0, "exec_s": 0.0,
                   "release_s": 0.0, "error": None}
            pdf = None
            with ctx.tracer.span("op", op=name) as span:
                try:
                    if ctx.py4j:
                        ctx.py4j.active = True
                    try:
                        df, rec["build_s"] = _timed(
                            ctx, name, "build", spec.fn, ctx.spark, self.sf_dir)
                    finally:
                        if ctx.py4j:
                            ctx.py4j.active = False
                    pdf, rec["exec_s"] = _timed(ctx, name, "exec", df.toPandas)
                except Exception as exc:  # recorded, the pass goes on
                    rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
                finally:
                    rec["released"], rec["release_s"] = _timed(
                        ctx, name, "release", release_cached_intermediates)
            rec["total_s"] = span["end"] - span["start"]
            if check and rec["error"] is None:
                why = same(pdf, ctx.extra["oracle"][name])
                if why:
                    rec["error"] = f"wrong result: {why}"
            recs.append(rec)
        ctx.group("idle")
        return recs


# ---------------------------------------------------------------------------
# nightly ETL
# ---------------------------------------------------------------------------
class EtlWorkload(Workload):
    name = "etl_nightly"

    def __init__(self, loans: int, csv_files: int, csv_rows: int):
        self.loans, self.csv_files, self.csv_rows = loans, csv_files, csv_rows
        self.inputs: dict = {}
        self.expect: dict = {}
        self.src = ""

    def generate(self, work: str, seed: int) -> dict:
        self.src = os.path.join(work, "inputs")
        info = gen.write_etl(self.src, seed, self.loans, self.csv_files,
                             self.csv_rows)
        self.expect = info["expect"]
        size = sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(self.src) for f in fs)
        return {"loans": self.loans, "csv_files": self.csv_files,
                "csv_rows": self.csv_rows, "rows": info["rows"],
                "bytes": size, "expect": self.expect}

    def setup(self, spark) -> None:
        tdir = os.path.join(self.src, "tables")
        self.inputs = {}
        for name in ETL_TABLES:
            self.inputs[name] = spark.read.parquet(
                os.path.join(tdir, f"{name}.parquet"))

    def run_pass(self, ctx: Ctx, check: bool) -> list[dict]:
        from data_pipeline_foundations_spark.runner import (
            OK, Stage, reference_etl_dag, run_dag,
        )
        from data_pipeline_foundations_spark.sources.warehouse import (
            rebuild_warehouse,
        )
        from data_pipeline_foundations_spark.streaming.file_ingest import (
            run_available_now, stage_csv_file,
        )

        spark = ctx.spark
        n = ctx.extra["pass_no"] = ctx.extra.get("pass_no", 0) + 1
        base = os.path.join(ctx.work, "etl", f"pass{n}")
        landing, pub = os.path.join(base, "landing"), os.path.join(base, "pub")
        stream_out = os.path.join(base, "stream_out")
        os.makedirs(landing)
        recs: list[dict] = []

        def op(name: str, fn, *args):
            rec = {"op": name, "error": None}
            with ctx.tracer.span("op", op=name) as span:
                try:
                    out, rec["exec_s"] = _timed(ctx, name, "exec", fn, *args)
                except Exception as exc:
                    rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
                    out = None
            rec["total_s"] = span["end"] - span["start"]
            recs.append(rec)
            return out

        def drain():
            drops = os.path.join(self.src, "drops")
            for f in sorted(os.listdir(drops)):
                stage_csv_file(os.path.join(drops, f), landing)
            return run_available_now(spark, landing, stream_out,
                                     os.path.join(base, "checkpoint"))

        op("drain", drain)
        if ctx.listener is not None:
            ctx.listener.terminated.wait(10)

        def stage(s):
            def fn(deps):
                rec = {"op": s.name, "error": None}
                recs.append(rec)
                try:
                    with ctx.tracer.span("op", op=s.name) as span:
                        out, rec["exec_s"] = _timed(ctx, s.name, "exec",
                                                    s.fn, deps)
                except Exception as exc:  # run_dag records it as failed
                    rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
                    raise
                finally:
                    rec["total_s"] = span["end"] - span["start"]
                return out
            return Stage(s.name, fn, s.deps)

        def sink(name, df):
            df.write.mode("overwrite").parquet(os.path.join(pub, name))

        dag = reference_etl_dag(spark, self.inputs, as_of=gen.ETL_AS_OF,
                                sink=sink)
        results = run_dag([stage(s) for s in dag])
        for name, res in results.items():
            if res.status != OK and not any(r["op"] == name for r in recs):
                recs.append({"op": name, "total_s": 0.0,
                             "error": f"{res.status}: {res.blocked_by}"})
        table_map = {os.path.join(pub, t): t for t in PUBLISHED}
        op("rebuild", rebuild_warehouse, spark, table_map)
        ctx.group("check")
        ctx.extra.update(pub=pub, stream_out=stream_out, table_map=table_map)
        if check:
            self.check(ctx, recs)
        ctx.group("idle")
        return recs

    def check(self, ctx: Ctx, recs: list[dict]) -> None:
        """Row counts against the generator's expectations; every rebuilt
        table reads back with the published row count."""
        spark = ctx.spark
        by_op = {r["op"]: r for r in recs}
        problems: dict[str, list] = defaultdict(list)
        counts = {}
        for t in PUBLISHED:
            try:
                counts[t] = spark.read.parquet(
                    os.path.join(ctx.extra["pub"], t)).count()
            except Exception as exc:
                problems["publish"].append(f"{t} unreadable: {type(exc).__name__}")
                continue
            want = self.expect.get(t)
            if want is not None and counts[t] != want:
                problems["publish"].append(f"{t} rows {counts[t]} != {want}")
            elif counts[t] == 0:
                problems["publish"].append(f"{t} is empty")
        try:
            got = spark.read.parquet(ctx.extra["stream_out"]).count()
            if got != self.expect["streaming_rows"]:
                problems["drain"].append(
                    f"rows {got} != {self.expect['streaming_rows']}")
        except Exception as exc:
            problems["drain"].append(f"sink unreadable: {type(exc).__name__}")
        for t in PUBLISHED:
            try:
                got = spark.table(t).count()
                if t in counts and got != counts[t]:
                    problems["rebuild"].append(f"{t} reads {got} != {counts[t]}")
            except Exception as exc:
                problems["rebuild"].append(f"{t} unreadable: {type(exc).__name__}")
        for op, why in problems.items():
            if op in by_op and by_op[op]["error"] is None:
                by_op[op]["error"] = "wrong result: " + "; ".join(why)


WORKLOADS = {
    "olap_star": lambda: RegistryWorkload(
        "olap_star", 0.02, 0.01, OLAP_OPS, STAR_TABLES),
    "curation_llm": lambda: RegistryWorkload(
        "curation_llm", 0.01, 0.1, CURATION_OPS, CORPUS_TABLES),
    "etl_nightly": lambda: EtlWorkload(loans=20_000, csv_files=4,
                                       csv_rows=500),
}
