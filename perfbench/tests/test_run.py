"""run.py end to end.

The ``spark`` tests start the engine through ``run.py --trace 1`` and read
the record it leaves in ``.perfbench/out``; they take a few minutes. Skip
them with ``-m "not spark"``.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

import launch
from run import percentile, tail_percentile

RUN = os.path.join(launch.REPO, "perfbench", "run.py")

# per-op build + exec + release against the traced pass wall time: the
# gaps are job-group calls, the DAG runner's bookkeeping and the wait for
# the streaming listener's last event
CLOSURE_REL, CLOSURE_ABS_S = 0.03, 0.5


def test_percentiles():
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert percentile([1.0, 2.0], 90) == pytest.approx(1.9)
    assert tail_percentile(100) == 90.0
    assert tail_percentile(12) == pytest.approx(100 * 2 / 12)
    assert tail_percentile(5) == 0.0


def test_fails_without_the_engine(tmp_path):
    """A directory with only BENCHMARK.json and perfbench/ cannot run."""
    shutil.copy(os.path.join(launch.REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(launch.REPO, "perfbench"),
                    tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "curation_llm",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def _traced(workload: str, seed: int = 1):
    p = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "1"],
        capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    last = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(launch.OUT_DIR, "out",
                           f"{workload}-s{seed}-t1.json")) as fh:
        record = json.load(fh)
    return last, record


def _closes(record):
    t = record["trace"]
    rows = t["rows"].values()
    attributed = sum(r.get("build_jobs", 0) + r.get("exec_jobs", 0)
                     for r in rows)
    assert attributed == t["jobs_in_pass_window"] > 0
    layers = t["layers"]
    assert layers["plans.build_jobs"] + layers["exec.jobs"] == attributed
    phases = sum(r.get("build_s", 0.0) + r.get("exec_s", 0.0)
                 + r.get("release_s", 0.0) for r in t["ops"])
    gap = t["traced_pass_s"] - phases
    assert 0 <= gap <= max(CLOSURE_ABS_S, CLOSURE_REL * t["traced_pass_s"])


@pytest.mark.spark
def test_traced_curation():
    last, record = _traced("curation_llm")
    assert last["correct"] and last["failed"] == 0
    m = {k: v["value"] for k, v in last["metrics"].items()}
    # the 4-core job counts of ROADMAP's host re-baseline
    assert (m["jobs.x80"], m["jobs.x85"], m["jobs.x90"]) == (7, 13, 20)
    assert m["plans.py4j_calls"] > 0 and m["plans.build_jobs"] > 0
    assert m["caching.released"] > 0
    assert m["vectorized.python_run_s"] > 0
    assert m["vectorized.python_sent_mb"] > 0
    assert m["tables.rows_scanned"] > 0
    assert all(v == 0 for k, v in m.items()
               if k.startswith(("runner.", "streaming.", "warehouse.")))
    assert "trace.overhead_s" in m
    _closes(record)


@pytest.mark.spark
def test_traced_etl():
    last, record = _traced("etl_nightly")
    assert last["correct"] and last["failed"] == 0
    m = {k: v["value"] for k, v in last["metrics"].items()}
    assert m["runner.stage_s.publish"] > 0 and m["runner.stages_failed"] == 0
    assert m["streaming.batches"] >= 1
    assert m["streaming.input_rows"] == record["inputs"]["expect"][
        "streaming_rows"]
    assert m["warehouse.files"] > 0 and m["warehouse.write_amp"] > 0
    assert all(v == 0 for k, v in m.items() if k.startswith("vectorized."))
    assert m["plans.build_jobs"] == 0
    _closes(record)
