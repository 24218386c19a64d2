#!/usr/bin/env python3
"""Run one benchmark workload, or all of them.

    python3 perfbench/run.py --workload curation_llm --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --all --seed 1        # every workload, one table

One run, for one workload:

1. generate the inputs from ``--seed`` (``gen_s``, not gated);
2. set up the session once (``get_spark``, the first load of each input
   table, the Python-worker fork; the JVM starts here): ``setup_s``;
3. compute the DuckDB oracle (registry workloads, ``oracle_s``, not gated);
4. run passes in a closed loop until ``--seconds`` have passed (at least
   one), timing every operation with tracing off; the first pass is
   checked against the oracle / the generator's row counts;
5. with ``--trace 1``: in fresh sessions, one traced pass (event log, job
   groups, spans, Py4J counting, streaming listener) and one untraced pass;
   report the per-layer metrics instead of the end-to-end ones.

The last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; the lines before it name every metric with its
unit, the failed operations and the launch configuration. A full record
(per-operation rows, spans, the traced run's event log) goes to
``.perfbench/out/``. The run directory under ``.perfbench/work/`` is
deleted when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import launch  # noqa: E402

# every end-to-end measurement, name -> unit; BENCHMARK.json's end_to_end
# list says which of them the last line carries (and a later change is
# gated on); the rest are printed by name with their unit
END_TO_END = {
    "setup_s": "s", "pass_s": "s", "pass_cpu_s": "s", "ok_rate": "ratio",
    "error_rate": "ratio", "op_s_p50": "s", "op_s_p90": "s",
    "peak_rss_mb": "MB",
}


def _bench_spec() -> dict:
    with open(os.path.join(launch.REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _record_path(workload: str, seed: int, trace: int) -> str:
    os.makedirs(os.path.join(launch.OUT_DIR, "out"), exist_ok=True)
    return os.path.join(launch.OUT_DIR, "out",
                        f"{workload}-s{seed}-t{trace}.json")


def package_present() -> bool:
    return os.path.isfile(os.path.join(
        launch.REPO, "data_pipeline_foundations_spark", "session.py"))


# ---------------------------------------------------------------------------
# session helpers
# ---------------------------------------------------------------------------
def _fork_python_workers(spark) -> None:
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    (spark.range(0, 256, 1, n).mapInPandas(lambda it: it, schema="id long")
     .write.mode("overwrite").format("noop").save())


def _setup(workload, tracer=None):
    """One set-up; returns (spark, total seconds, get_spark seconds)."""
    from data_pipeline_foundations_spark.session import get_spark
    t0 = time.time()
    spark = get_spark("perfbench")
    t1 = time.time()
    if tracer is not None:
        tracer.spans.append({"name": "session.get_spark", "op": None,
                             "parent": None, "start": t0, "end": t1})
        spark.sparkContext.setJobGroup("setup", "setup")
    workload.setup(spark)
    _fork_python_workers(spark)
    if tracer is not None:
        spark.sparkContext.setJobGroup("idle", "idle")
    return spark, time.time() - t0, t1 - t0


def _rss_mb() -> float:
    """Peak resident memory of this process plus the driver JVM (VmHWM)."""
    from pyspark import SparkContext
    pids = [os.getpid()]
    gw = SparkContext._gateway
    if gw is not None and getattr(gw, "proc", None) is not None:
        pids.append(gw.proc.pid)
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def _stop_jvm() -> None:
    """Stop the active session and the gateway JVM this process started,
    and wait for the JVM to exit. Safe to call more than once."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext
    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception:
            pass
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if proc is None:
        return
    try:
        gw.shutdown()
    except Exception:
        pass
    try:
        proc.stdin.close()
    except Exception:
        pass
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants (the
    driver JVM, the Python worker daemon and its workers), exited children
    included once reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        stats[int(d)] = f
        children.setdefault(int(f[1]), []).append(int(d))
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        f = stats.get(pid)
        if f:  # utime stime cutime cstime
            total += sum(int(x) for x in f[11:15])
        todo += children.get(pid, [])
    return total / tick


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile, ``p`` in [0, 100]."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int, beyond: int = 10) -> float:
    """Highest percentile with at least ``beyond`` samples above it."""
    return max(0.0, 100.0 * (n - beyond) / n) if n else 0.0


# ---------------------------------------------------------------------------
# one workload
# ---------------------------------------------------------------------------
def run_workload(name: str, seed: int, seconds: float, traced: bool,
                 cfg: dict) -> dict:
    from workloads import WORKLOADS, Ctx
    from tracing import Tracer

    w = WORKLOADS[name]()
    t0 = time.perf_counter()
    inputs = w.generate(cfg["work"], seed)
    gen_s = time.perf_counter() - t0
    if w.registry:
        w.load_specs()

    spark, setup_s, _ = _setup(w)
    ctx = Ctx(spark=spark, tracer=Tracer(False), work=cfg["work"])
    oracle_s = 0.0
    if w.registry:
        from oracle import Oracle
        t0 = time.perf_counter()
        oracle = Oracle(w.sf_dir, cfg["duckdb_threads"])
        ctx.extra["oracle"] = w.oracle_results(oracle)
        oracle.close()
        oracle_s = time.perf_counter() - t0

    passes, cpu, recs = [], [], []
    start = time.perf_counter()
    while True:
        t0, c0 = time.perf_counter(), _cpu_s()
        pr = w.run_pass(ctx, check=not passes)
        passes.append(time.perf_counter() - t0)
        cpu.append(_cpu_s() - c0)
        recs += pr
        if time.perf_counter() - start >= seconds:
            break

    out = {"workload": name, "seed": seed, "config": cfg, "inputs": inputs,
           "gen_s": gen_s, "oracle_s": oracle_s,
           "pass_runs_s": passes, "pass_cpu_runs_s": cpu, "ops": recs}
    if traced:
        out["trace"] = traced_pass(w, ctx, cfg, seed)
        recs = recs + out["trace"]["ops"] + out["trace"]["ops_untraced"]
    out["peak_rss_mb"] = _rss_mb()
    _stop_jvm()

    lat = [r["total_s"] for r in out["ops"]]
    failed = [r for r in recs if r.get("error")]
    out["attempted"], out["failed"] = len(recs), len(failed)
    out["failed_ops"] = sorted({f"{r['op']}: {r['error']}" for r in failed})
    n_measured = len(out["ops"])
    out["e2e"] = {
        "setup_s": setup_s,
        "pass_s": statistics.median(passes),
        "pass_cpu_s": statistics.median(cpu),
        "op_s_p50": percentile(lat, 50),
        "op_s_p90": percentile(lat, 90),
        "ok_rate": 1.0 - sum(1 for r in out["ops"] if r.get("error"))
        / max(1, n_measured),
        "peak_rss_mb": out["peak_rss_mb"],
    }
    out["e2e"]["error_rate"] = 1.0 - out["e2e"]["ok_rate"]
    out["samples"] = {"ops": n_measured, "passes": len(passes),
                      "beyond_p90": n_measured * 0.1,
                      "tail_pct_with_10_beyond": tail_percentile(n_measured)}
    return out


def _fresh_pass(w, ctx, cfg: dict, session: str):
    """One untraced pass in a fresh session of the running JVM."""
    ctx.spark.stop()
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = launch.extra_conf(cfg["work"],
                                                             session)
    ctx.spark, _, _ = _setup(w)
    t0 = time.perf_counter()
    ops = w.run_pass(ctx, check=False)
    return ops, time.perf_counter() - t0


def traced_pass(w, ctx, cfg: dict, seed: int) -> dict:
    """The traced pass, then an untraced pass, each in a fresh session of
    the JVM the untraced run warmed. The overhead is their difference; it
    also holds the JVM's warming from one pass to the next (a few percent
    of a pass), which a bracketing third pass would cancel but the run's
    time limit does not leave room for."""
    import glob

    from tracing import (
        Py4JCounter, Tracer, fold, parse_event_log, stream_listener,
    )
    from workloads import Ctx

    ctx.spark.stop()
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = launch.extra_conf(
        cfg["work"], "traced", event_log=True)
    tracer = Tracer(True)
    spark, _, get_spark_s = _setup(w, tracer)
    listener = None
    if not w.registry:
        listener = stream_listener()
        spark.streams.addListener(listener)
    counter = Py4JCounter(spark.sparkContext)
    tctx = Ctx(spark=spark, tracer=tracer, work=cfg["work"], traced=True,
               py4j=counter, listener=listener, extra=ctx.extra)
    t0 = time.time()
    ops = w.run_pass(tctx, check=False)
    t1 = time.time()
    counter.uninstall()
    if listener is not None:
        spark.streams.removeListener(listener)
    ctx.spark = spark
    spark.stop()
    log_path = glob.glob(os.path.join(cfg["work"], "eventlog", "*"))[0]
    shutil.copy(log_path, _record_path(w.name, seed, 1)[:-5] + ".eventlog")
    log = parse_event_log(log_path)
    rows = fold(log, [s for s in tracer.spans if s["start"] >= t0])
    # before the next pass replaces the published paths in ctx.extra
    layers = per_layer(w, ops, rows, counter.calls, listener, get_spark_s,
                       ctx.extra, cfg)

    ops_after, after_s = _fresh_pass(w, ctx, cfg, "after")
    layers["trace.overhead_s"] = (t1 - t0) - after_s
    pass_jobs = sum(1 for j in log.jobs.values()
                    if t0 * 1e3 <= j.submit_ms <= t1 * 1e3)
    return {"ops": ops, "ops_untraced": ops_after,
            "rows": rows, "traced_pass_s": t1 - t0,
            "untraced_pass_s": after_s,
            "jobs_in_pass_window": pass_jobs, "jobs_in_log": len(log.jobs),
            "spans": tracer.spans, "layers": layers}


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring markers and checksums."""
    size = files = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(d, f))
            files += 1
    return size, files


def per_layer(w, ops, rows, py4j_calls, listener, get_spark_s, extra,
              cfg) -> dict:
    from workloads import DAG_STAGES, PUBLISHED

    def total(key, scale=1.0):
        return sum(r.get(key, 0.0) for r in rows.values()) * scale

    by_op = {r["op"]: r for r in ops}
    m = {
        "session.get_spark_s": get_spark_s,
        "tables.scan_mb": total("scan_b", 1e-6),
        "tables.scan_s": total("scan_ms", 1e-3),
        "tables.rows_scanned": total("scan_rows"),
        "plans.build_s": sum(r.get("build_s", 0.0) for r in ops),
        "plans.py4j_calls": py4j_calls if w.registry else 0,
        "plans.build_jobs": total("build_jobs"),
        "plans.build_eager_s": total("build_job_ms", 1e-3),
        "caching.released": sum(r.get("released", 0) for r in ops),
        "caching.release_s": sum(r.get("release_s", 0.0) for r in ops),
        "exec.wall_s": sum(r.get("exec_s", 0.0) for r in ops),
        "exec.jobs": total("exec_jobs"),
        "exec.stages": total("exec_stages"),
        "exec.stages_skipped": total("exec_stages_skipped"),
        "exec.tasks": total("exec_tasks"),
        "exec.dispatch_s": total("dispatch_ms", 1e-3),
        "exec.task_run_s": total("exec_run_ms", 1e-3),
        "exec.task_cpu_s": total("exec_cpu_ns", 1e-9),
        "exec.gc_s": total("exec_gc_ms", 1e-3),
        "exec.shuffle_read_mb": total("exec_shuffle_read_b", 1e-6),
        "exec.shuffle_write_mb": total("exec_shuffle_write_b", 1e-6),
        "exec.spill_mb": total("exec_spill_b", 1e-6),
        "exec.peak_exec_mem_mb": max([r.get("exec_peak_b", 0.0)
                                      for r in rows.values()] + [0.0]) * 1e-6,
        "vectorized.python_run_s": total("run_ms", 1e-3),
        "vectorized.python_boot_s": total("boot_ms", 1e-3),
        "vectorized.python_sent_mb": total("sent_b", 1e-6),
        "vectorized.python_received_mb": total("received_b", 1e-6),
    }
    for q in ("x80", "x85", "x90"):
        m[f"jobs.{q}"] = sum(r.get("build_jobs", 0) + r.get("exec_jobs", 0)
                             for op, r in rows.items() if op.startswith(q + "_"))
    for s in DAG_STAGES:
        m[f"runner.stage_s.{s}"] = by_op.get(s, {}).get("exec_s", 0.0)
    m["runner.stages_failed"] = sum(1 for r in ops
                                    if r["op"] in DAG_STAGES and r.get("error"))
    m["streaming.drain_s"] = by_op.get("drain", {}).get("exec_s", 0.0)
    m["streaming.batches"] = listener.batches if listener else 0
    m["streaming.input_rows"] = listener.input_rows if listener else 0
    m["streaming.trigger_ms"] = listener.trigger_ms if listener else 0
    written = files = source = 0
    if "rebuild" in by_op:
        wh = launch.warehouse_dir(cfg["work"], "traced")
        for t in PUBLISHED:
            b, f = _dir_stats(os.path.join(wh, t))
            written, files = written + b, files + f
        for path in extra["table_map"]:
            source += _dir_stats(path)[0]
    m["warehouse.rebuild_s"] = by_op.get("rebuild", {}).get("exec_s", 0.0)
    m["warehouse.written_mb"] = written * 1e-6
    m["warehouse.files"] = files
    m["warehouse.write_amp"] = written / source if source else 0.0
    return m


# ---------------------------------------------------------------------------
# reporting
# ---------------------------------------------------------------------------
def report(out: dict, traced: bool, spec: dict) -> dict:
    """The last line: BENCHMARK.json's end_to_end or per_layer metrics."""
    if traced:
        values, wanted = out["trace"]["layers"], spec["per_layer"]
    else:
        values, wanted = out["e2e"], spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values[m["name"]]),
                           "unit": m["unit"]} for m in wanted}
    return {"correct": out["failed"] == 0, "attempted": out["attempted"],
            "failed": out["failed"], "metrics": metrics}


def print_human(out: dict, last: dict) -> None:
    s = out["samples"]
    print(f"# {out['workload']} seed={out['seed']} "
          f"config={json.dumps(out['config'], sort_keys=True)}")
    print(f"# inputs: {json.dumps(out['inputs'], sort_keys=True)}")
    print(f"# gen_s={out['gen_s']:.3f} oracle_s={out['oracle_s']:.3f} "
          f"passes={s['passes']} op samples={s['ops']} "
          f"(beyond p90: {s['beyond_p90']:.1f}; highest percentile with 10 "
          f"beyond: p{s['tail_pct_with_10_beyond']:.0f})")
    if "trace" in out:
        t = out["trace"]
        print(f"# traced pass {t['traced_pass_s']:.3f} s, untraced pass "
              f"after it {t['untraced_pass_s']:.3f} s, jobs in pass window "
              f"{t['jobs_in_pass_window']}")
    for k, v in out["e2e"].items():
        if k not in last["metrics"]:
            print(f"{k} {v:.6g} {END_TO_END[k]} (not gated)")
    for k, v in last["metrics"].items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    for f in out["failed_ops"]:
        print(f"FAILED {f}")


def run_all(args) -> int:
    """Every workload, one after another, each in its own process."""
    spec = _bench_spec()
    rows, rc = [], 0
    for wl in spec["workloads"]:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload",
               wl["name"], "--seed", str(args.seed), "--seconds",
               str(args.seconds), "--trace", str(args.trace)]
        p = subprocess.run(cmd, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"{wl['name']}: exit {p.returncode}\n{p.stderr[-2000:]}")
            rc = 1
            continue
        with open(_record_path(wl["name"], args.seed, args.trace)) as fh:
            record = json.load(fh)
        rows.append((wl["name"], {**record["e2e"], **record.get(
            "trace", {}).get("layers", {})}, record["failed_ops"]))
        print("\n".join(lines[:-1]))
        print()
    units = {**END_TO_END, **{m["name"]: m["unit"] for m in spec["per_layer"]}}
    names = [n for n in units if any(n in r for _, r, _ in rows)]
    print("metric".ljust(40) + "".join(n.ljust(16) for n, _, _ in rows))
    for k in names:
        print(f"{k} [{units[k]}]".ljust(40) + "".join(
            (f"{r[k]:.6g}" if k in r else "-").ljust(16) for _, r, _ in rows))
    for name, _, failed in rows:
        for f in failed:
            print(f"FAILED {name} {f}")
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not package_present():
        print("perfbench: the engine package is not in this checkout",
              file=sys.stderr)
        return 2
    spec = _bench_spec()
    if args.seconds is None:
        args.seconds = spec["run_seconds"]
    if args.all:
        return run_all(args)
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")

    cfg = launch.configure(f"{args.workload}-s{args.seed}-t{args.trace}-"
                           f"{os.getpid()}")
    try:
        out = run_workload(args.workload, args.seed, args.seconds,
                           bool(args.trace), cfg)
    finally:
        _stop_jvm()
        launch.cleanup(cfg["work"])
    last = report(out, bool(args.trace), spec)
    art = _record_path(args.workload, args.seed, args.trace)
    with open(art, "w") as fh:
        json.dump({**out, "result": last}, fh, default=str)
    print_human(out, last)
    print(f"# record: {os.path.relpath(art, launch.REPO)}")
    print(json.dumps(last))
    return 0


if __name__ == "__main__":
    sys.exit(main())
