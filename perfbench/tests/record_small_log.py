#!/usr/bin/env python3
"""Re-record ``data/small_eventlog.jsonl`` and ``data/small_spans.json``.

    python3 perfbench/tests/record_small_log.py

Runs two tiny traced operations on ``local[2]`` with the Spark event log on:

* ``scan_agg``: build = one eager ``count()`` (1 job), exec = an aggregate
  over a parquet scan collected to the driver;
* ``py_kernel``: exec = a ``mapInPandas`` noop write (Python worker metrics).

The log is reduced to the fields :func:`tracing.parse_event_log` reads, with
no paths or host names, so the fixture is small and portable.
"""

from __future__ import annotations

import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import launch  # noqa: E402
from tracing import Tracer  # noqa: E402

KEEP_TASK_METRICS = ("Executor Run Time", "Executor CPU Time", "JVM GC Time",
                     "Disk Bytes Spilled", "Peak Execution Memory",
                     "Shuffle Read Metrics", "Shuffle Write Metrics")


def _plan(info: dict) -> dict:
    return {"nodeName": info.get("nodeName", ""),
            "metrics": [{"name": m["name"], "accumulatorId": m["accumulatorId"]}
                        for m in info.get("metrics", [])],
            "children": [_plan(c) for c in info.get("children", [])]}


def reduce_event(e: dict) -> dict | None:
    kind = e["Event"]
    if kind == "SparkListenerJobStart":
        return {"Event": kind, "Job ID": e["Job ID"],
                "Submission Time": e["Submission Time"],
                "Stage Infos": [{"Stage ID": s["Stage ID"]}
                                for s in e["Stage Infos"]],
                "Properties": {"spark.jobGroup.id": (e.get("Properties") or {})
                               .get("spark.jobGroup.id")}}
    if kind == "SparkListenerJobEnd":
        return {"Event": kind, "Job ID": e["Job ID"],
                "Completion Time": e["Completion Time"],
                "Job Result": {"Result": e["Job Result"]["Result"]}}
    if kind == "SparkListenerStageSubmitted":
        return {"Event": kind,
                "Stage Info": {"Stage ID": e["Stage Info"]["Stage ID"]}}
    if kind == "SparkListenerTaskEnd":
        info = e["Task Info"]
        tm = e.get("Task Metrics") or {}
        return {"Event": kind, "Stage ID": e["Stage ID"],
                "Task Info": {
                    "Launch Time": info["Launch Time"],
                    "Finish Time": info["Finish Time"],
                    "Accumulables": [
                        {"ID": a["ID"], "Update": a["Update"],
                         "Metadata": "sql"}
                        for a in info.get("Accumulables", [])
                        if a.get("Metadata") == "sql" and "Update" in a]},
                "Task Metrics": {k: tm[k] for k in KEEP_TASK_METRICS
                                 if k in tm}}
    if kind.endswith("SQLExecutionStart"):
        return {"Event": kind, "executionId": e["executionId"],
                "jobGroupId": e.get("jobGroupId"),
                "sparkPlanInfo": _plan(e["sparkPlanInfo"])}
    if kind.endswith("SQLAdaptiveExecutionUpdate"):
        return {"Event": kind, "executionId": e["executionId"],
                "sparkPlanInfo": _plan(e["sparkPlanInfo"])}
    if kind.endswith("SparkListenerDriverAccumUpdates"):
        return {"Event": kind, "executionId": e["executionId"],
                "accumUpdates": e["accumUpdates"]}
    return None


def main() -> None:
    cfg = launch.configure("record-small-log")
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = launch.extra_conf(
        cfg["work"], "record", event_log=True)
    from data_pipeline_foundations_spark.session import get_spark

    spark = get_spark("record-small-log")
    sc = spark.sparkContext
    src = os.path.join(cfg["work"], "t.parquet")
    spark.range(0, 5000, 1, 2).selectExpr("id", "id % 7 AS k") \
        .write.parquet(src)
    tracer = Tracer(True)

    def phase(op, name, fn):
        sc.setJobGroup(f"{op}:{name}", op)
        with tracer.span(name, op=op):
            return fn()

    with tracer.span("pass"):
        with tracer.span("op", op="scan_agg"):
            phase("scan_agg", "build", lambda: spark.range(10).count())
            phase("scan_agg", "exec", lambda: spark.read.parquet(src)
                  .groupBy("k").count().collect())
        with tracer.span("op", op="py_kernel"):
            phase("py_kernel", "exec", lambda: spark.range(0, 64, 1, 2)
                  .mapInPandas(lambda it: it, schema="id long")
                  .write.mode("overwrite").format("noop").save())
    sc.setJobGroup("idle", "idle")
    spark.stop()

    log = glob.glob(os.path.join(cfg["work"], "eventlog", "*"))[0]
    data = os.path.join(HERE, "data")
    os.makedirs(data, exist_ok=True)
    with open(log) as fh, open(os.path.join(data, "small_eventlog.jsonl"),
                               "w") as out:
        for line in fh:
            r = reduce_event(json.loads(line))
            if r is not None:
                out.write(json.dumps(r, sort_keys=True) + "\n")
    with open(os.path.join(data, "small_spans.json"), "w") as out:
        json.dump(tracer.spans, out, indent=1)
    launch.cleanup(cfg["work"])


if __name__ == "__main__":
    main()
