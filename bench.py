"""Benchmark harness (driver contract).

Runs every registered query at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {name: sec},
 "sf": ...}.

Each query is fully materialized through a noop sink (executes the whole
physical plan, all columns, no driver collect). A warmup pass first touches
every table so JVM/codegen warmup isn't attributed to the first query.

The compact/minimal lines also carry the floor-vs-work decomposition
(VERDICT r9 #4): per-query DuckDB oracle times measured in the same
window, `floor_bucket` (queries whose oracle is under 100 ms — Spark's
multi-stage scheduling floor vs DuckDB's zone-map floor, a tail that
grows with registry size independent of plan quality), and
`stable_ratio` (sum of stable-probe Spark seconds over the same queries'
oracle seconds — the like-for-like reading of the 2x bar).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_pipeline_foundations_spark.operators.caching import cache_scope
from data_pipeline_foundations_spark.registry import all_queries
from data_pipeline_foundations_spark.session import get_spark
from data_pipeline_foundations_spark.tables import TABLES, load

# Queries re-probed with extra runs for the `stable` sub-dict: the
# expensive tail, where single-sweep numbers on this shared VM have shown
# multi-second noise (a 12 s reading for a 2 s query). Round-over-round
# BENCH_r* deltas should be read off `stable`, not `queries`.
# VERDICT r3 task #4: top-N widened 8 -> 16, plus an auto-probe of ANY
# query whose two sweep runs disagreed by >1.5x (mid-tail noise escaped
# the old top-8 probe and produced four phantom regressions in r3).
STABLE_RUNS = 3
STABLE_TOP_N = 34  # widened r6 (99 -> 108) and r9 (137 -> 141, plus the
# new pipeline rows joined the expensive tail); keeps every query
# >=~0.8 s inside the min-of-3 probe as the mid-tail grew
DISAGREE_RATIO = 1.5
DISAGREE_MIN_SEC = 0.15  # below this, "disagreement" is scheduling jitter
# The final line is read from the last 2,000 chars of stdout: the line plus
# its newline must fit whole.
FINAL_LINE_MAX = 1995


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark("bench")
    for name in TABLES:  # warmup: JVM, codegen, parquet footers
        load(spark, sf_dir, name).count()
    # warmup: fork the Python worker pool + its pandas/Arrow imports once,
    # so Pandas-UDF queries measure compute, not interpreter startup
    (spark.range(0, 256, 1, int(spark.conf.get("spark.sql.shuffle.partitions", "32")))
     .mapInPandas(lambda it: it, schema="id long")
     .write.mode("overwrite").format("noop").save())
    # Each query runs TWICE back-to-back and the per-query minimum is
    # recorded. Run 1 doubles as warmup (one-time JIT/codegen compilation,
    # AQE statistics, parquet footer/page cache — 5-20 s extra on the first
    # md5/regexp-heavy plan shape); run 2 is steady-state. Taking the min
    # also shields the recorded numbers from transient host noise (this
    # harness shares a VM — multi-second stalls on trivial scans were
    # observed under load). Each run has its own cache scope, released
    # after the clock stops, so every timed execution is a full
    # computation with no cross-run cached-intermediate reuse and no
    # memory accumulation across the sweep.
    queries = all_queries()

    def timed_run(spec) -> float:
        with cache_scope():  # released after the clock stops
            t0 = time.perf_counter()
            spec.fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            return time.perf_counter() - t0

    timings: dict[str, float] = {}
    disagree: set[str] = set()
    for name, spec in sorted(queries.items()):
        runs = [timed_run(spec) for _ in range(2)]
        timings[name] = round(min(runs), 3)
        if min(runs) > DISAGREE_MIN_SEC and max(runs) > DISAGREE_RATIO * min(runs):
            disagree.add(name)

    # Stability probe: the expensive tail — plus anything whose two sweep
    # runs disagreed — gets STABLE_RUNS more isolated runs each; `stable`
    # is the trustworthy number for those queries.
    probe = set(sorted(timings, key=timings.get, reverse=True)[:STABLE_TOP_N])
    probe |= disagree
    stable: dict[str, float] = {}
    for name in sorted(probe):
        spec = queries[name]
        stable[name] = round(min(min(timed_run(spec) for _ in range(STABLE_RUNS)),
                                 timings[name]), 3)

    # Floor-vs-work decomposition (VERDICT r9 #4): the raw sweep ratio is
    # dominated by ~60 sub-second queries where Spark pays a multi-stage
    # scheduling floor against DuckDB's 10-100 ms zone-map floor — that
    # tail grows with every registered query, independent of plan quality.
    # So the bench itself times every registered DuckDB oracle in-process
    # (warm-adaptive: one run; a second min-of-2 run only when the first
    # reading is >= 150 ms, i.e. where noise could matter) and emits
    #   oracle_total   — sum of per-query oracle seconds
    #   floor_bucket   — #queries whose oracle lands under 100 ms
    #   floor_spark_sec— Spark seconds spent inside that floor bucket
    #   stable_ratio   — sum(stable Spark) / sum(oracle) over the stable
    #                    probe set: the like-for-like number the 2x bar
    #                    should be read on, now a first-class field
    import duckdb

    from data_pipeline_foundations_spark.tables import table_path

    con = duckdb.connect()
    con.execute("SET threads=32")
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"'{table_path(sf_dir, name)}'")
    oracle_times: dict[str, float] = {}
    for name, spec in sorted(queries.items()):
        if spec.oracle is None:
            continue
        t0 = time.perf_counter()
        con.execute(spec.oracle).fetchall()
        dt = time.perf_counter() - t0
        if dt >= 0.15:
            t0 = time.perf_counter()
            con.execute(spec.oracle).fetchall()
            dt = min(dt, time.perf_counter() - t0)
        oracle_times[name] = round(dt, 3)
    oracle_total = round(sum(oracle_times.values()), 3)
    floor_names = {n for n, v in oracle_times.items() if v < 0.1}
    floor_spark = round(sum(timings[n] for n in floor_names), 3)
    st_pairs = [(stable[n], oracle_times[n]) for n in stable
                if n in oracle_times]
    stable_ratio = (round(sum(s for s, _ in st_pairs)
                          / max(sum(o for _, o in st_pairs), 1e-9), 3)
                    if st_pairs else None)

    total = round(sum(timings.values()), 3)
    print(json.dumps({
        "metric": "total_runtime_all_registered_queries",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "stable": stable,
        "oracle": oracle_times,
        "sf": sf,
    }))
    # Compact twin of the line above: the full per-query dict can exceed
    # the driver's tail-capture window (BENCH_r02 recorded "parsed": null),
    # so a shorter line with the stable re-probes comes next.
    print(json.dumps({
        "metric": "total_runtime_all_registered_queries",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "stable": stable,
        "stable_ratio": stable_ratio,
        "oracle_total": oracle_total,
        "floor_bucket": len(floor_names),
        "floor_spark_sec": floor_spark,
        "sf": sf,
    }))
    # Final line, printed LAST (VERDICT r8 #1, revised r14 per VERDICT
    # r13 "What's wrong" #1): the driver parses the LAST stdout line and
    # its tail-capture window is 2,000 chars, so the full per-query dict
    # (line 1, ~4.8 KB at 156 queries) never reached PERF's per-query
    # comparison (PERF_r13: per_query {}, bench_ok false). The final
    # line therefore carries a COMPACT per-query dict that fits the
    # window (see final_line).
    headline = {
        "metric": "total_runtime_all_registered_queries",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "stable_ratio": stable_ratio,
        "oracle_total": oracle_total,
        "floor_bucket": len(floor_names),
        "floor_spark_sec": floor_spark,
        "sf": sf,
    }
    print(final_line(headline, timings, stable))


def final_line(headline: dict, timings: dict[str, float],
               stable: dict[str, float]) -> str:
    """The bounded last stdout line: ``headline`` plus a compact
    per-query dict. Keys are each query's unique registry prefix (the
    token before the first "_", e.g. "x03" for x03_dedup_minhash_lsh —
    full names stay, unrenamed, in line 1's `queries`); values are the
    min over ALL timed runs of that query (sweep min-of-2 merged with
    the stable re-probes), 2 decimals.

    Guard: when the dict cannot ride the line — two queries share a
    prefix, or the line would outgrow the window — the line falls back
    to the headline plus ``"queries_dropped": true`` and one warning goes
    to stderr, so the tail ALWAYS ends with a parseable line carrying
    the round's headline value and the loss is visible.
    """
    compact = {n.split("_")[0]: round(min(timings[n],
                                          stable.get(n, timings[n])), 2)
               for n in timings}
    if len(compact) == len(timings):
        line = json.dumps({**headline, "queries": compact},
                          separators=(",", ":"))
        if len(line) <= FINAL_LINE_MAX:
            return line
        why = f"{len(line)} chars > {FINAL_LINE_MAX}"
    else:
        why = "two queries share a registry prefix"
    print(f"bench.py: final line drops its per-query dict ({why})",
          file=sys.stderr)
    return json.dumps({**headline, "queries_dropped": True},
                      separators=(",", ":"))

if __name__ == "__main__":
    main()
