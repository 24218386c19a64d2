"""Host-sized, cwd-independent launch configuration.

Everything is set from the benchmark's side through variables the engine
package already reads (``SPARK_GRAFT_CPUS``, ``SPARK_DRIVER_MEMORY``,
``SPARK_GRAFT_EXTRA_CONF``) before ``pyspark`` is imported, so the engine
runs unchanged:

* ``SPARK_GRAFT_CPUS`` = the cores this process may use (``local[n]`` and
  ``spark.sql.shuffle.partitions``);
* ``SPARK_DRIVER_MEMORY`` = a quarter of ``MemTotal`` from ``/proc/meminfo``,
  clamped to 1-8 GiB (the package default of 24g exceeds small hosts), and
  ``-Xms`` of the same size;
* ``PYTHONPATH`` leads with the repository root, so Python workers import
  the package whatever the working directory is;
* the working directory, Spark local dirs, warehouse dir, JVM temp dir,
  ``derby.log`` home and every checkpoint live under one run directory
  inside the checkout, which the benchmark deletes when it ends;
* DuckDB (the correctness oracle) gets the same thread count.
"""

from __future__ import annotations

import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(REPO, ".perfbench")


def host_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # non-Linux
        return os.cpu_count() or 1


def driver_memory_mb() -> int:
    total_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                total_kb = int(line.split()[1])
    return max(1024, min(8192, total_kb // 4 // 1024))


def extra_conf(work: str, session: str, event_log: bool = False) -> str:
    """The ``SPARK_GRAFT_EXTRA_CONF`` string for one session.

    ``get_spark`` reads it on every call, so the traced run can switch the
    event log on for one session without touching the package. Each session
    gets its own warehouse directory: the catalog is in memory, so a fresh
    session would refuse to reuse the managed locations of an earlier one.
    """
    conf = {
        "spark.sql.warehouse.dir": warehouse_dir(work, session),
        "spark.ui.showConsoleProgress": "false",
        # a fixed-size heap (-Xms = spark.driver.memory), so no run spends
        # its cold pass growing the heap by a different path
        "spark.driver.extraJavaOptions":
            f"-Xms{driver_memory_mb()}m -Djava.io.tmpdir={work}/tmp"
            f" -Dderby.system.home={work} -XX:-UsePerfData",
    }
    if event_log:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return ";".join(f"{k}={v}" for k, v in conf.items())


def warehouse_dir(work: str, session: str) -> str:
    return os.path.join(work, "warehouse", session)


def configure(run_name: str) -> dict:
    """Create the run directory, export the launch environment and chdir
    into it. Returns the configuration recorded in the run's output."""
    work = os.path.join(OUT_DIR, "work", run_name)
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    cpus = host_cpus()
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{driver_memory_mb()}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_EXTRA_CONF": extra_conf(work, "main"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (REPO, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", sys.executable),
    }
    os.environ.update(env)
    if REPO not in sys.path:
        sys.path.insert(1, REPO)
    os.chdir(work)
    return {"work": work, "cpus": cpus, "duckdb_threads": cpus,
            "driver_memory": env["SPARK_DRIVER_MEMORY"],
            "master": f"local[{cpus}]", "pythonpath_head": REPO}


def cleanup(work: str) -> None:
    os.chdir(REPO)
    shutil.rmtree(work, ignore_errors=True)
