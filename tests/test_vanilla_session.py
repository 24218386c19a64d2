"""The engine run the way a caller of the driver contract runs it.

A caller imports ``__spark_entry__`` with the repo root put on
``sys.path`` by hand, from its own cwd, with no ``PYTHONPATH``, and hands
every query ITS OWN vanilla SparkSession — none of the session factory's
conf. Tier-1 otherwise runs from the repo root, where the Python workers
import the package from their cwd, so a kernel closure that pickles a
package function by reference passes every other test and fails only
here (``ModuleNotFoundError`` in the worker).

One subprocess, cwd a fresh temp dir and ``PYTHONPATH`` unset, runs the
similarity-family queries whose Arrow kernels ship to the workers, each
in its own ``cache_scope()``, and checks each against its DuckDB oracle
with ``test_oracle_parity.assert_frames_match``. It then loads
``events`` and checks that loading left the session's SQL conf alone.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

KERNEL_QUERIES = [
    "x12_embedding_near_dup", "x20_ivf_ann", "x37_semantic_dedup",
    "x42_ivfpq_rerank", "x70_cluster_purity", "x79_hierarchical_ivf_assign",
    "x80_trained_ivf_assign", "x93_hard_negatives_ann",
    "x94_hard_negative_ann_recall",
]

_CHILD = r'''
import importlib.util
import sys

repo, sf_dir, names = sys.argv[1], sys.argv[2], sys.argv[3].split(",")
sys.path.insert(0, repo)

import duckdb
from pyspark.sql import SparkSession

spark = SparkSession.builder.master("local[2]").appName("vanilla").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as entry
from data_pipeline_foundations_spark.operators.caching import cache_scope
from data_pipeline_foundations_spark.tables import TABLES, load, table_path

spec = importlib.util.spec_from_file_location(
    "oracle_parity", f"{repo}/tests/test_oracle_parity.py")
parity = importlib.util.module_from_spec(spec)
spec.loader.exec_module(parity)

qs, osql = entry.queries(), entry.oracle_sql()
con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'")
failed = 0
for name in names:
    try:
        with cache_scope():
            pdf = qs[name](spark, sf_dir).toPandas()
        parity.assert_frames_match(pdf, con.execute(osql[name]).fetchdf(), name)
        print(f"OK {name} {len(pdf)}", flush=True)
    except Exception as exc:
        failed += 1
        print(f"FAIL {name}: {type(exc).__name__}: {str(exc)[-1500:]}",
              flush=True)

ts_type = dict(load(spark, sf_dir, "events").dtypes)["ts"]
nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
print(f"EVENTS ts={ts_type} nanosAsLong={nanos}", flush=True)
spark.stop()
sys.exit(1 if failed else 0)
'''


def test_vanilla_session_runs_kernel_queries(tmp_path, sf_dir):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, REPO, sf_dir, ",".join(KERNEL_QUERIES)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=1200)
    lines = proc.stdout.splitlines()
    err = "\n".join(ln for ln in proc.stderr.splitlines()
                    if "[Stage " not in ln)[-3000:]
    report = "\n".join(lines) + "\n--- stderr ---\n" + err
    ok = {ln.split()[1] for ln in lines if ln.startswith("OK ")}
    assert ok == set(KERNEL_QUERIES), (
        f"not oracle-green in a vanilla session: "
        f"{sorted(set(KERNEL_QUERIES) - ok)}\n{report}")
    events = [ln for ln in lines if ln.startswith("EVENTS ")]
    assert events and events[0].startswith("EVENTS ts=timestamp"), report
    assert events[0].endswith("nanosAsLong=None"), report
    assert proc.returncode == 0, report
