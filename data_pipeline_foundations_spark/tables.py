"""Testdata table access.

The driver provides a deterministic TPC-H-ish star schema plus ``events``
(stream-shaped), ``documents`` (text corpus) and ``embeddings`` (ANN corpus)
as one parquet file per table (TESTDATA.md). All queries in ``plans/`` load
through here so that scan behavior (column pruning, predicate pushdown) is
uniform and inspectable in one place.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. Plain parquet scan — Catalyst prunes columns and pushes
    predicates into the scan from whatever the caller composes on top.
    The session's SQL conf is never touched: ``events.ts`` is
    ``timestamp[us]`` parquet, which Spark reads as TIMESTAMP as is.

    The resolved DataFrame (a lazy logical plan, NOT data) is memoized per
    (session, sf_dir, table): ``spark.read.parquet`` eagerly lists the
    directory and reads the footer schema on the driver — measured
    70-100 ms per call — and every registered query used to re-pay that
    for every table it touches, on every invocation (r13 guide §6: a
    catalog-backed table resolves its file index once per session; this is
    the bare-path equivalent). Every execution still scans the parquet
    files from disk — nothing row-shaped is cached, so bench/oracle runs
    keep computing from the inputs.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    cache: dict = getattr(spark, "_graft_table_cache", None)
    if cache is None:
        cache = {}
        spark._graft_table_cache = cache
    key = (sf_dir, name)
    hit = cache.get(key)
    if hit is not None:
        return hit
    df = spark.read.parquet(table_path(sf_dir, name))
    cache[key] = df
    return df


def scale_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition iff the scan is under-parallelized.

    The driver's testdata ships one single-row-group parquet per table, so
    a bare scan is ONE task no matter how many cores exist — CPU-heavy
    per-row operators (hashing, shingling, vector folds) then run
    single-threaded. On a real 100 TB layout the input has thousands of
    splits and this is a no-op (the partition count check short-circuits);
    locally it buys cores× speedup for a trivially small shuffle.
    """
    spark = df.sparkSession
    n = min_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)
