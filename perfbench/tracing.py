"""Tracing for the benchmark's traced run.

* :class:`Tracer` keeps spans (name, start, end, parent, op) in memory; the
  run writes them out when it ends. Spans are taken from the benchmark's own
  files, around the calls into each layer's public functions.
* :class:`Py4JCounter` counts Py4J commands (one Python->JVM round trip
  each) while a plan is being built, by wrapping the gateway client's
  ``send_command`` for the traced session only.
* :func:`stream_listener` is a ``StreamingQueryListener`` that counts
  micro-batches, input rows and trigger time.
* :func:`parse_event_log` folds a Spark event log (JSON lines, written
  uncompressed) into jobs, stages, task metrics and SQL metrics, and
  :func:`fold` turns that plus the spans into the per-layer metrics.

The job group of every job tells which operation and phase launched it: the
traced run sets ``<op>:build`` around plan construction, ``<op>:exec``
around execution and ``<op>:release`` around the cache release.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


class Tracer:
    """In-memory spans. ``enabled=False`` makes :meth:`span` a timer only."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        rec = {"name": name, "op": op,
               "parent": self._stack[-1] if self._stack else None}
        self._stack.append(name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.enabled:
                self.spans.append(rec)


class Py4JCounter:
    """Counts commands sent through one SparkContext's Py4J client while
    :attr:`active` is set (from the calling thread)."""

    def __init__(self, sc):
        self.calls = 0
        self.active = False
        self._client = sc._gateway._gateway_client
        self._orig = self._client.send_command
        self._thread = threading.get_ident()

        def send_command(*args, **kwargs):
            if self.active and threading.get_ident() == self._thread:
                self.calls += 1
            return self._orig(*args, **kwargs)

        self._client.send_command = send_command

    def uninstall(self) -> None:
        self._client.send_command = self._orig


def stream_listener():
    """A listener object with ``batches``, ``input_rows``, ``trigger_ms``
    and a ``terminated`` event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self):
            self.batches = 0
            self.input_rows = 0
            self.trigger_ms = 0
            self.terminated = threading.Event()

        def onQueryStarted(self, event):
            self.terminated.clear()

        def onQueryProgress(self, event):
            p = event.progress
            self.batches += 1
            self.input_rows += int(p.numInputRows)
            self.trigger_ms += int(p.durationMs.get("triggerExecution", 0))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated.set()

    return _Listener()


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------
SCAN_PREFIXES = ("Scan ", "FileScan", "BatchScan")
PY_METRICS = {
    "time to run Python workers": "run_ms",
    "time to start Python workers": "boot_ms",
    "time to initialize Python workers": "boot_ms",
    "data sent to Python workers": "sent_b",
    "data returned from Python workers": "received_b",
}


@dataclass
class Job:
    id: int
    group: str
    submit_ms: int
    end_ms: int = 0
    ok: bool = False
    stages: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    # stage id -> list of (launch_ms, finish_ms) of its tasks
    task_spans: dict[int, list] = field(default_factory=lambda: defaultdict(list))
    # stage id -> summed task metrics
    stage_metrics: dict[int, dict] = field(
        default_factory=lambda: defaultdict(lambda: defaultdict(float)))
    submitted: set[int] = field(default_factory=set)
    # stage id -> {accumulator id: summed task update}
    stage_accums: dict[int, dict] = field(
        default_factory=lambda: defaultdict(lambda: defaultdict(int)))
    # SQL execution id -> job group; accumulator id -> (node, metric)
    sql_group: dict[int, str] = field(default_factory=dict)
    accum_meta: dict[int, tuple[str, str]] = field(default_factory=dict)
    driver_accums: list[tuple[int, int, int]] = field(default_factory=list)


def _walk_plan(info: dict, out: dict) -> None:
    node = info.get("nodeName", "")
    for m in info.get("metrics", []):
        out[int(m["accumulatorId"])] = (node, m["name"])
    for child in info.get("children", []):
        _walk_plan(child, out)


def parse_event_log(path: str) -> EventLog:
    log = EventLog()
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                job = Job(e["Job ID"], props.get("spark.jobGroup.id") or "",
                          e["Submission Time"],
                          stages=[s["Stage ID"] for s in e["Stage Infos"]])
                log.jobs[job.id] = job
            elif kind == "SparkListenerJobEnd":
                job = log.jobs[e["Job ID"]]
                job.end_ms = e["Completion Time"]
                job.ok = e["Job Result"]["Result"] == "JobSucceeded"
            elif kind == "SparkListenerStageSubmitted":
                log.submitted.add(e["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                _task_end(log, e)
            elif kind.endswith("SQLExecutionStart"):
                log.sql_group[e["executionId"]] = e.get("jobGroupId") or ""
                _walk_plan(e["sparkPlanInfo"], log.accum_meta)
            elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                _walk_plan(e["sparkPlanInfo"], log.accum_meta)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for aid, value in e["accumUpdates"]:
                    log.driver_accums.append((e["executionId"], aid, value))
    return log


def _task_end(log: EventLog, e: dict) -> None:
    sid = e["Stage ID"]
    info = e["Task Info"]
    log.task_spans[sid].append((info["Launch Time"], info["Finish Time"]))
    tm = e.get("Task Metrics") or {}
    m = log.stage_metrics[sid]
    m["tasks"] += 1
    m["run_ms"] += tm.get("Executor Run Time", 0)
    m["cpu_ns"] += tm.get("Executor CPU Time", 0)
    m["gc_ms"] += tm.get("JVM GC Time", 0)
    m["spill_b"] += tm.get("Disk Bytes Spilled", 0)
    m["peak_b"] = max(m["peak_b"], tm.get("Peak Execution Memory", 0))
    sr = tm.get("Shuffle Read Metrics") or {}
    m["shuffle_read_b"] += (sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0))
    sw = tm.get("Shuffle Write Metrics") or {}
    m["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
    acc = log.stage_accums[sid]
    for a in info.get("Accumulables", []):
        # SQL metrics are flagged internal too; only task metrics, already
        # read from "Task Metrics" above, are skipped here
        if a.get("Metadata") == "sql" and "Update" in a:
            try:
                acc[int(a["ID"])] += int(a["Update"])
            except (TypeError, ValueError):
                pass


def _union_ms(intervals) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if e > lo and s < hi]


def op_of(group: str) -> tuple[str, str]:
    op, _, phase = group.rpartition(":")
    return op, phase


def fold(log: EventLog, spans: list[dict]) -> dict:
    """Per-operation rows and per-pass sums of the event-log metrics.

    ``spans`` are the traced pass's spans; only jobs whose group names an
    operation of the pass are counted.
    """
    ops = {s["op"] for s in spans if s.get("op")}
    rows: dict[str, dict] = {op: defaultdict(float) for op in ops}
    exec_spans = defaultdict(list)
    for s in spans:
        if s["name"] == "exec" and s.get("op"):
            exec_spans[s["op"]].append((s["start"] * 1e3, s["end"] * 1e3))

    # jobs started on another thread (a streaming query's micro-batches
    # carry the query's own job group) belong to the op running at the time
    op_windows = sorted((s["start"] * 1e3, s["end"] * 1e3, s["op"])
                        for s in spans if s["name"] == "op" and s.get("op"))

    def op_at(ms: float) -> str | None:
        for lo, hi, op in op_windows:
            if lo <= ms <= hi:
                return op
        return None

    stage_to_phase: dict[int, tuple[str, str]] = {}
    for job in log.jobs.values():
        op, phase = op_of(job.group)
        if op not in rows:
            op, phase = op_at(job.submit_ms), "exec"
            if op is None or job.group in ("setup", "idle", "check"):
                continue
        r = rows[op]
        r[f"{phase}_jobs"] += 1
        r[f"{phase}_failed_jobs"] += 0 if job.ok else 1
        r[f"{phase}_job_ms"] += max(0, job.end_ms - job.submit_ms)
        for sid in job.stages:
            # a stage listed by several jobs ran in the first (later jobs
            # list it as skipped)
            stage_to_phase.setdefault(sid, (op, phase))
            r[f"{phase}_stages"] += 1
            if sid not in log.submitted:
                r[f"{phase}_stages_skipped"] += 1

    scan_ids: dict[int, str] = {}
    py_ids: dict[int, str] = {}
    for aid, (node, metric) in log.accum_meta.items():
        if node.startswith(SCAN_PREFIXES):
            if metric == "scan time":
                scan_ids[aid] = "scan_ms"
            elif metric == "number of output rows":
                scan_ids[aid] = "scan_rows"
            elif metric == "size of files read":
                scan_ids[aid] = "scan_b"
        if metric in PY_METRICS:
            py_ids[aid] = PY_METRICS[metric]

    for sid, (op, phase) in stage_to_phase.items():
        r = rows[op]
        m = log.stage_metrics.get(sid)
        if m:
            for k, v in m.items():
                if k == "peak_b":
                    r[f"{phase}_peak_b"] = max(r[f"{phase}_peak_b"], v)
                else:
                    r[f"{phase}_{k}"] += v
        for aid, v in log.stage_accums.get(sid, {}).items():
            key = scan_ids.get(aid) or py_ids.get(aid)
            if key:
                r[key] += v

    # driver-side SQL metrics (files read) -> the op whose group ran them
    for exec_id, aid, value in log.driver_accums:
        key = scan_ids.get(aid)
        op, _ = op_of(log.sql_group.get(exec_id, ""))
        if key and op in rows:
            r = rows[op]
            r[key] += value

    # time inside an exec span with no task running anywhere
    all_tasks = [iv for ivs in log.task_spans.values() for iv in ivs]
    for op, ivs in exec_spans.items():
        for lo, hi in ivs:
            busy = _union_ms(_clip(all_tasks, lo, hi))
            rows[op]["dispatch_ms"] += (hi - lo) - busy
    return {op: dict(r) for op, r in rows.items()}
