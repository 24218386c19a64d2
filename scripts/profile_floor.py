"""Decompose per-query cost: plan-build time (driver) vs execution time,
plus Spark job count — the scheduling-floor diagnostic (guide §1, §7).

Usage: python scripts/profile_floor.py a09_distinct_agg a11_pivot [--runs 2]
       python scripts/profile_floor.py --all-floor   # every query, one run

Build time = spec.fn(spark, sf_dir) wall (includes table loads, any eager
model jobs); exec time = noop write of the returned plan. Job count comes
from the status tracker via a per-query job group, so eager jobs fired
during build are counted too.
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_pipeline_foundations_spark.operators.caching import cache_scope
from data_pipeline_foundations_spark.registry import all_queries
from data_pipeline_foundations_spark.session import get_spark
from data_pipeline_foundations_spark.tables import TABLES, load


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    spark = get_spark("profile_floor")
    sc = spark.sparkContext
    for name in TABLES:
        load(spark, args.sf_dir, name).count()
    (spark.range(0, 256, 1, 32)
     .mapInPandas(lambda it: it, schema="id long")
     .write.mode("overwrite").format("noop").save())

    queries = all_queries()
    names = sorted(queries) if args.all else args.names
    rows = []
    for name in names:
        spec = queries[name]
        best = None
        for _ in range(args.runs):
            with cache_scope():
                sc.setJobGroup(name, name)
                t0 = time.perf_counter()
                df = spec.fn(spark, args.sf_dir)
                t1 = time.perf_counter()
                df.write.mode("overwrite").format("noop").save()
                t2 = time.perf_counter()
                sc.setJobGroup(None, None)
            njobs = len(sc.statusTracker().getJobIdsForGroup(name))
            rec = {"build": round(t1 - t0, 3), "exec": round(t2 - t1, 3),
                   "total": round(t2 - t0, 3), "jobs_cum": njobs}
            if best is None or rec["total"] < best["total"]:
                best = rec
        best["name"] = name
        rows.append(best)
        print(json.dumps(best), flush=True)
    print("TOTAL", round(sum(r["total"] for r in rows), 2),
          "BUILD", round(sum(r["build"] for r in rows), 2),
          "EXEC", round(sum(r["exec"] for r in rows), 2))


if __name__ == "__main__":
    main()
