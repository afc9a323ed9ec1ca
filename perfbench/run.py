#!/usr/bin/env python3
"""Layered benchmark of the rialto-airflow-spark engine.

    python3 perfbench/run.py --workload weekly_cycle --seed 1 --seconds 10 --trace 0

Runs one workload from a single process on ``local[<cpus>]`` as a
closed loop with one client: set-up, then timed operations until
``--seconds`` have passed (at least one). Every operation's output is
checked. The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (spans also go
to ``.perfbench/traces/``). The line before it carries run details:
failures, steal ticks and contamination flags, and the workload's
metrics under their own names.

Workloads (see ``BENCHMARK.json``):

* ``weekly_cycle`` — incremental harvest → publish over a bootstrapped
  manifest store, then CLI author lookups against that store and the
  MERGE of a connector landing;
* ``query_mix`` — passes over registry queries checked against their
  DuckDB oracles.

``--workload weekly_landing`` (not in ``BENCHMARK.json``; ~2 min a
run) is the weekly cycle with the landing merged inside the harvest
DAG, where it makes the dedupe passes re-plan the merged frame.

Everything the run writes lives under one run directory inside the
checkout, removed at exit; a traced run also leaves its spans in
``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "rialto_airflow_spark"
WORKLOADS = {"weekly_cycle": ("weekly", "WeeklyCycle"),
             "query_mix": ("querymix", "QueryMix"),
             # not in BENCHMARK.json: one run takes ~2 min (see weekly.py)
             "weekly_landing": ("weekly", "WeeklyLanding")}


# The driver heap cap, through the engine's own setting (it defaults to
# 8g). The heap starts small and grows on demand up to the cap, so the
# memory figures (host.peak_pss_mb, jvm.heap_peak_mb) see heap growth.
# Under the 8g default the weekly cycle ran slower and less steadily
# (24.4 s, IQR/median 0.11 over five seeds, against 21.7 s and 0.05 at
# 2g), with G1 growing the heap to 3.8-5.4 GB from run to run.
DRIVER_MEMORY = "2g"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(run_root: str, ncpu: int) -> None:
    """Point the engine, its JVM and its Python workers at the
    checkout and keep every temporary file under ``run_root``."""
    tmp = os.path.join(run_root, "tmp")
    os.makedirs(tmp)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    # Python workers start from the JVM's environment: without the
    # checkout on their path every mapInPandas worker fails to import
    # the engine when the benchmark runs from another directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_root, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp}" pyspark-shell')
    tempfile.tempdir = None
    os.chdir(run_root)  # spark-warehouse and other relative droppings


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:  # a stuck JVM must not outlive us
                proc.kill()
                proc.wait()


def run(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    """One benchmark run; returns (result line, details line)."""
    import harness
    import probes

    ncpu = len(os.sched_getaffinity(0))
    run_root = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    os.makedirs(run_root)
    cwd = os.getcwd()
    mem = probes.MemSampler()
    spark, undo, bench = None, [], None
    try:
        _environment(run_root, ncpu)
        import querymix
        from rialto_airflow_spark.session import get_spark

        mod, cls = WORKLOADS[workload]
        tracer = probes.Tracer(trace)
        t_setup = time.perf_counter()
        spark = get_spark("perfbench")
        get_spark_s = time.perf_counter() - t_setup
        spark.sparkContext.setLogLevel("ERROR")
        if trace:
            undo = probes.instrument(tracer)
        bench = harness.Bench(spark, tracer, ncpu)
        wl = getattr(importlib.import_module(mod), cls)(spark, run_root, seed, bench)

        def after_op(rec):
            n, mb = probes.files_written_since(run_root, rec.t0, ("spark-local",))
            out = {"storage.files_written": n, "storage.bytes_written_mb": mb}
            if hasattr(wl, "space_amp"):
                out["storage.space_amp"] = wl.space_amp()
            return out

        bench.after_op = after_op
        wl.setup()
        setup_s = time.perf_counter() - t_setup
        heap = probes.HeapPeak(spark)

        t0, k = time.perf_counter(), 0
        while k == 0 or time.perf_counter() - t0 < seconds:
            try:
                wl.run_op(k)
            except Exception as exc:  # noqa: BLE001 — counted as a failure
                bench.check(False, f"operation {k}: {type(exc).__name__}: {exc}")
            k += 1
        per_run = {"session.get_spark_s": get_spark_s,
                   "host.peak_pss_mb": mem.stop(), "jvm.heap_peak_mb": heap.mb()}
        e2e, layers = harness.summarize(
            bench, wl.main_op, wl.request_op, setup_s, per_run, querymix.QUERIES)
        attempted, failed = bench.tally()
        metrics = layers if trace else e2e
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        mains = [r for r in bench.ops if r.kind == wl.main_op]
        flags = [probes.contaminated(r.steal, r.wall_s, ncpu) for r in mains]
        details = {
            "workload": workload, "seed": seed, "trace": int(trace),
            "main_op": wl.main_op,
            "failed_frac": failed / attempted,
            f"{wl.main_op}_s": e2e["op_s"][0],
            f"{wl.request_op}_p50_ms": e2e["request_p50_ms"][0],
            "operations": [
                {"kind": r.kind, "wall_s": round(r.wall_s, 4), "steal_ticks": r.steal,
                 "contaminated": f, "failed": r.failed}
                for r, f in zip(mains, flags)
            ],
            f"{wl.request_op}_ms": [
                [r.name, round(r.wall_s * 1e3, 1)]
                for r in sorted(bench.all_ops(), key=lambda r: r.t0)
                if r.kind == wl.request_op],
            "steal_ticks": sum(r.steal for r in bench.ops),
            "contaminated": any(flags) or probes.contaminated(
                sum(r.steal for r in bench.ops), sum(r.wall_s for r in bench.ops), ncpu),
            "errors": bench.checks_failed[:10],
        }
        if trace:
            cycle_tasks = sum(v for k2, (v, _u) in layers.items()
                              if k2.startswith("dag.task_s."))
            details["tracing_overhead_s"] = tracer.overhead_s
            details["dag_tasks_sum_s"] = cycle_tasks
            tracer.write(os.path.join(ROOT, ".perfbench", "traces",
                                      f"{workload}-seed{seed}.jsonl"))
        return result, details
    finally:
        try:
            mem.stop()
            for u in undo:
                u()
            if bench is not None and bench.counters is not None:
                bench.counters.stop()
        finally:
            try:
                if spark is not None:
                    _stop_spark(spark)
            finally:
                os.chdir(cwd)
                shutil.rmtree(run_root, ignore_errors=True)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: the engine package {ENGINE}/ is not in {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    result, details = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(details))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
