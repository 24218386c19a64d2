"""Dump .explain("formatted") for registered queries to plans/r13/.

Usage: python scripts/dump_plans.py --suffix before x90_kmv_source_similarity ...
Writes plans/r13/<name>_<suffix>.txt. Plan only — no execution.
"""
from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_pipeline_foundations_spark.operators.caching import cache_scope
from data_pipeline_foundations_spark.registry import all_queries
from data_pipeline_foundations_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--suffix", required=True)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--out-dir", default=None)
    args = ap.parse_args()
    out_dir = args.out_dir or os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", "r13")
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("dump_plans")
    queries = all_queries()
    for name in args.names:
        with cache_scope():
            df = queries[name].fn(spark, args.sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted"))
        path = os.path.join(out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)", flush=True)


if __name__ == "__main__":
    main()
