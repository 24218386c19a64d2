"""The event-log parser against a small recorded log.

The fixture comes from ``record_small_log.py``: two traced operations on
``local[2]``; ``scan_agg`` builds with one eager ``count()`` (two jobs under
AQE: the partial aggregate and the final one) and executes an aggregate over
a 5000-row parquet scan (three jobs), ``py_kernel`` executes a
``mapInPandas`` noop write (one job). One more job, the parquet write that
makes the scan's input, runs before the pass under no job group.
"""

import json
import os

import pytest

from tracing import _clip, _union_ms, fold, parse_event_log

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# span sums may miss the job-group calls between phases, nothing else
TOLERANCE_S = 0.05


@pytest.fixture(scope="module")
def recorded():
    log = parse_event_log(os.path.join(DATA, "small_eventlog.jsonl"))
    with open(os.path.join(DATA, "small_spans.json")) as fh:
        spans = json.load(fh)
    return log, spans


def test_union_and_clip():
    assert _union_ms([(0, 10), (5, 15), (20, 25)]) == 20
    assert _union_ms([]) == 0
    assert _clip([(0, 10), (20, 30)], 5, 25) == [(5, 10), (20, 25)]


def test_jobs_attributed_by_group(recorded):
    log, spans = recorded
    rows = fold(log, spans)
    assert set(rows) == {"scan_agg", "py_kernel"}
    assert rows["scan_agg"]["build_jobs"] == 2
    assert rows["scan_agg"]["exec_jobs"] == 3
    assert rows["py_kernel"]["exec_jobs"] == 1
    assert "build_jobs" not in rows["py_kernel"]


def test_every_job_in_the_pass_is_attributed(recorded):
    log, spans = recorded
    rows = fold(log, spans)
    p = next(s for s in spans if s["name"] == "pass")
    in_pass = [j for j in log.jobs.values()
               if p["start"] * 1e3 <= j.submit_ms <= p["end"] * 1e3]
    attributed = sum(r.get("build_jobs", 0) + r.get("exec_jobs", 0)
                     for r in rows.values())
    assert attributed == len(in_pass) == len(log.jobs) - 1


def test_scan_and_python_metrics(recorded):
    log, spans = recorded
    rows = fold(log, spans)
    scan = rows["scan_agg"]
    assert scan["scan_rows"] == 5000
    assert scan["scan_b"] > 0
    assert "sent_b" not in scan
    py = rows["py_kernel"]
    assert py["sent_b"] > 0 and py["received_b"] > 0
    assert "scan_rows" not in py


def test_task_metrics_and_dispatch(recorded):
    log, spans = recorded
    rows = fold(log, spans)
    for op, r in rows.items():
        exec_span = next(s for s in spans
                         if s["op"] == op and s["name"] == "exec")
        wall_ms = (exec_span["end"] - exec_span["start"]) * 1e3
        assert r["exec_tasks"] >= 1
        assert r["exec_stages"] >= r.get("exec_stages_skipped", 0)
        assert 0 <= r["dispatch_ms"] <= wall_ms


def test_attribution_closes(recorded):
    _, spans = recorded
    p = next(s for s in spans if s["name"] == "pass")
    phases = sum(s["end"] - s["start"] for s in spans
                 if s["name"] in ("build", "exec", "release"))
    assert abs((p["end"] - p["start"]) - phases) <= TOLERANCE_S
