"""Emit CORRECTNESS_full_r{N}.json — the builder's own full-coverage twin
of the driver's correctness gate.

The driver's CORRECTNESS_r{N}.json has carried the same 50 query names
since round 1 while the registry grew to 70+; this artifact closes that
blind spot (VERDICT r3 task #3) by running EVERY registered query against
its DuckDB oracle with the driver's own method — sorted columns, sorted
rows, exact values including bit-equal floats — at the driver's scale
factor (sf0.01) and writing all rows in the driver's schema.

Usage: python scripts/emit_correctness.py --round 4
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

from data_pipeline_foundations_spark.operators.caching import cache_scope
from data_pipeline_foundations_spark.registry import all_queries
from data_pipeline_foundations_spark.session import get_spark
from data_pipeline_foundations_spark.tables import TABLES, table_path


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    key = df.astype(str)
    order = key.sort_values(by=list(df.columns)).index
    return df.loc[order].reset_index(drop=True)


def _kind(dtype) -> str:
    k = dtype.kind if hasattr(dtype, "kind") else "O"
    return {"i": "int", "u": "int", "f": "float", "b": "bool",
            "M": "ts", "O": "obj", "m": "td"}.get(k, k)


def _values_match(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    a, b = _normalize(a), _normalize(b)
    for col in a.columns:
        for x, y in zip(a[col].tolist(), b[col].tolist()):
            if x is None or (isinstance(x, float) and math.isnan(x)):
                ok = y is None or (isinstance(y, float) and math.isnan(y)) \
                    or pd.isna(y)
            elif pd.isna(x):
                ok = pd.isna(y)
            elif isinstance(x, float) or isinstance(y, float):
                ok = float(x) == float(y)  # exact: determinism contract
            else:
                ok = x == y
            if not ok:
                return False
    return True


def _schema_match(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    if sorted(a.columns) != sorted(b.columns):
        return False
    a, b = _normalize(a), _normalize(b)
    for col in a.columns:
        ka, kb = _kind(a[col].dtype), _kind(b[col].dtype)
        if not (ka == kb or {ka, kb} <= {"int", "float"} or "obj" in (ka, kb)):
            return False
    return True


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    out_path = args.out or os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        f"CORRECTNESS_full_r{args.round:02d}.json")

    spark = get_spark("correctness_full", shuffle_partitions=8)
    duck = duckdb.connect()
    for name in TABLES:
        duck.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                     f"'{table_path(args.sf_dir, name)}'")

    results: dict[str, dict] = {}
    for name, spec in sorted(all_queries().items()):
        row = {"rows_match": None, "schema_match": None, "hash_match": None,
               "spark_rows": None, "oracle_rows": None, "err": None}
        try:
            with cache_scope():
                spark_pdf = spec.fn(spark, args.sf_dir).toPandas()
            row["spark_rows"] = len(spark_pdf)
            if spec.oracle is None:
                row["rows_match"] = row["schema_match"] = None
                row["err"] = None
                row["rows_only"] = True
            else:
                duck_pdf = duck.execute(spec.oracle).fetchdf()
                row["oracle_rows"] = len(duck_pdf)
                row["rows_match"] = len(spark_pdf) == len(duck_pdf)
                row["schema_match"] = _schema_match(spark_pdf, duck_pdf)
                row["hash_match"] = (row["rows_match"] and row["schema_match"]
                                     and _values_match(spark_pdf, duck_pdf))
        except Exception as e:  # noqa: BLE001 — artifact records the failure
            row["err"] = f"{type(e).__name__}: {e}"[:500]
        results[name] = row
        status = "ok" if row.get("hash_match") else (
            "rows_only" if row.get("rows_only") else "FAIL")
        print(f"{name}: {status}", flush=True)

    with open(out_path, "w") as f:
        json.dump(results, f, indent=2)
    n_green = sum(1 for r in results.values() if r.get("hash_match"))
    n_oracle = sum(1 for r in results.values() if "rows_only" not in r)
    print(f"wrote {out_path}: {n_green}/{n_oracle} oracle-green, "
          f"{len(results) - n_oracle} rows-only")


if __name__ == "__main__":
    main()
