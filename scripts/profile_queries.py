"""Time individual registered queries at a given SF dir (min of N runs).

Usage: python scripts/profile_queries.py x36_pq_ann x20_ivf_ann [--runs 3]
Mirrors bench.py's measurement discipline (noop sink, one cache scope
per run, released outside the timed region) so numbers are comparable.
"""
from __future__ import annotations

import argparse
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
    ap.add_argument("names", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    spark = get_spark("profile")
    for name in TABLES:
        load(spark, args.sf_dir, name).count()
    queries = all_queries()
    for name in args.names:
        spec = queries[name]
        runs = []
        for _ in range(args.runs):
            with cache_scope():
                t0 = time.perf_counter()
                spec.fn(spark, args.sf_dir).write.mode("overwrite") \
                    .format("noop").save()
                runs.append(time.perf_counter() - t0)
        print(f"{name}: min={min(runs):.3f} runs={[round(r, 3) for r in runs]}",
              flush=True)


if __name__ == "__main__":
    main()
