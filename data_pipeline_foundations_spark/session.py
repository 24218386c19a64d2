"""SparkSession factory.

Tuned for the local[N] test harness but configured the way a large cluster
deployment would be: AQE on (runtime re-planning, skew-join splitting,
partition coalescing), UTC session timezone (so timestamps round-trip
tz-naive parquet identically to the DuckDB oracle), Arrow enabled for any
pandas exchange. On a real cluster only master/memory/shuffle-partition
counts change — the engine code is identical.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` when ``SPARK_DRIVER_MEMORY`` is unset: half
    the host's ``MemTotal``, at most 24g. In local mode the driver JVM is
    the whole cluster; a heap larger than the host ends in the kernel's
    OOM killer, not in a Spark error. 24g where ``meminfo`` cannot be
    read (a host without /proc)."""
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mib = int(line.split()[1]) // 1024
                    return f"{min(24 << 10, mib // 2)}m"
    except (OSError, ValueError, IndexError):
        pass
    return "24g"


def get_spark(app_name: str = "data_pipeline_foundations_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the session.

    Scale notes (100 TB target):
      - AQE handles runtime partition coalescing and skew-join splitting, so
        ``spark.sql.shuffle.partitions`` is an upper bound, not a tuning knob
        to hand-hold per query. (Measured cost of keeping it on at bench
        scale: ~0.07 s/query of re-planning on sf0.1 mid-tail queries —
        accepted; skew-join splitting and coalescing are what survive the
        100 TB target, and disabling them to shave benchmark overhead would
        invert the design priority.)
      - ``autoBroadcastJoinThreshold`` stays at default (10 MB): the dimension
        tables of the star schema (region/nation/supplier/part/customer at
        typical ratios) broadcast; the fact tables never do.
      - Session timezone pinned UTC so naive-timestamp semantics match the
        reference (SURVEY.md §1.3 D2) and the DuckDB oracle bit-for-bit.
    """
    n = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY")
                or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
    )
    # Deployment-parameterised overrides (r13): production values for
    # scale-dependent knobs (shuffle partitions, advisory sizes, memory)
    # belong in the environment, not hard-coded for either local mode or
    # any one cluster. Format: "k=v;k2=v2". Note ';' cannot appear in a
    # value. A segment without '=' is a config typo — raise instead of
    # silently setting a key to the empty string (r14, ADVICE r13).
    for kv in filter(None, os.environ.get("SPARK_GRAFT_EXTRA_CONF",
                                          "").split(";")):
        k, sep, v = kv.partition("=")
        if not sep or not k.strip():
            raise ValueError(
                f"SPARK_GRAFT_EXTRA_CONF segment {kv!r} is not 'key=value'"
                " (';' separates segments and cannot appear in values)")
        builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
