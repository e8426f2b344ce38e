#!/usr/bin/env python3
"""Benchmark of the tpc_di_spark CDC engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload replay_bulk --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics of ``BENCHMARK.json``, with ``--trace 1`` the per-layer
metrics of the traced run. The line before it holds the run's detail
(sample counts, core guard, the checks against the reference, and with
``--trace 1`` the end-to-end figures of the traced run and where its span
and event-log files were kept for ``perfbench/report.py``).

Each run works in a fresh directory under ``.bench_runs/`` of the
checkout, which holds the generated inputs, the tables, the Spark
warehouse and local dirs, and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
RUNS_DIR = ".bench_runs"
# JVM settings, passed as spark.driver.defaultJavaOptions so that get_spark's
# conf is left as it is. A run is a fresh JVM that lives about a minute on a
# few cores; with C2 on, its compiler threads compete with the task threads
# for much of that minute. C1-only sizing of the code cache fills and then
# stops compiling, hence the larger cache. The heap is 2 GB (through
# get_spark's own knob), committed and touched at start: with an adaptive
# heap, peak RSS swung by up to 60% between runs as G1 sized its
# generations, so it now tracks the memory outside the heap; heap pressure
# shows in spark.gc_s. The paired runs behind each choice are in
# perfbench/README.md.
JIT_OPTS = ("-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m")
DRIVER_MEMORY = "2g"
HEAP_OPTS = (f"-Xms{DRIVER_MEMORY}", "-XX:+AlwaysPreTouch")


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def core_guard() -> dict:
    """Cores this run uses: the process affinity, which never exceeds
    ``nproc``, so ``local[cores]`` cannot oversubscribe."""
    affinity = sorted(os.sched_getaffinity(0))
    return {"nproc": os.cpu_count(), "affinity": affinity, "cores": len(affinity)}


def p50(xs):
    return statistics.median(xs)


def tail(xs):
    """Highest percentile with at least ten samples beyond it (None when the
    sample is too small for one above the median)."""
    n = len(xs)
    if n < 21:
        return None
    return sorted(xs)[n - 11]


def rss_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def reset_hwm(pid: int | str) -> None:
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def start_spark(root: str, cores: int, event_log: str | None):
    from tpc_di_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        "spark.local.dir": os.path.join(root, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
        # prepended to any spark.driver.extraJavaOptions get_spark sets
        "spark.driver.defaultJavaOptions": " ".join([*JIT_OPTS, *HEAP_OPTS]),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false"})
    spark = get_spark(app_name="perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and its gateway JVM, and wait for the JVM to end."""
    from pyspark import SparkContext

    proc = spark.sparkContext._gateway.proc
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def end_to_end(w, rec, setup_s: float, peak_rss_mb: float) -> dict:
    s = rec.samples
    return {
        "setup_s": (setup_s, "s"),
        "th_events_per_s": (rec.values["th_events"] / rec.values["th_s"], "ev/s"),
        "ti_events_per_s": (rec.values["ti_events"] / sum(s["apply"]), "ev/s"),
        "apply_p50_s": (p50(s["apply"]), "s"),
        "freshness_p50_s": (p50(s["freshness"]), "s"),
        "lookup_p50_s": (p50(s["lookup"]), "s"),
        "storage_amp": (w.storage_amp(), "ratio"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }


def summary(rec) -> dict:
    out = {}
    for kind, xs in sorted(rec.samples.items()):
        out[kind] = {"n": len(xs), "p50_s": p50(xs), "tail_s": tail(xs), "max_s": max(xs)}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    checkout = os.getcwd()
    if not os.path.isfile(os.path.join(checkout, "tpc_di_spark", "__init__.py")):
        fail("run from the root of a checkout: no tpc_di_spark package here")
    sys.path[:0] = [HERE, checkout]
    os.environ["PYTHONPATH"] = os.pathsep.join([checkout, os.environ.get("PYTHONPATH", "")])

    import workloads  # noqa: E402  (needs sys.path above)

    if args.workload not in workloads.WORKLOADS:
        fail(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
    guard = core_guard()
    cls = workloads.WORKLOADS[args.workload]

    os.makedirs(os.path.join(checkout, RUNS_DIR), exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(checkout, RUNS_DIR))
    os.makedirs(os.path.join(root, "tmp"))
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    # Every JVM the run starts, spark-submit's launcher included, keeps its
    # temp files in the run's directory and writes no perf-data file (that
    # goes under /tmp whatever java.io.tmpdir says).
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={os.path.join(root, 'tmp')}", "-XX:-UsePerfData"]))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    tempfile.tempdir = None
    trace_dir = None
    if args.trace:
        trace_dir = os.path.join(checkout, RUNS_DIR, f"trace-{args.workload}-seed{args.seed}")
        shutil.rmtree(trace_dir, ignore_errors=True)
    spark = None
    tracer = None
    try:
        rec = workloads.Recorder()
        w = cls(root, args.seed, args.seconds, rec)
        t_prep = time.perf_counter()
        w.prepare()
        phases = {"prepare_s": time.perf_counter() - t_prep}

        reset_hwm("self")
        t0 = time.perf_counter()
        spark = start_spark(root, guard["cores"],
                            os.path.join(trace_dir, "eventlog") if trace_dir else None)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        t_session = time.perf_counter() - t0
        w.spark = spark
        w.setup()
        setup_s = phases["setup_s"] = time.perf_counter() - t0
        rec.enabled = True

        before_ti = None
        if args.trace:
            import tracing

            tracer = tracing.Tracer(spark)
            tracer.install()
            rec.tracer = tracer
            if args.workload == "replay_bulk":
                before_ti = tracing.snapshot_for_baseline(os.path.join(root, "baseline"))
        t0 = time.perf_counter()
        w.measure(before_ti=before_ti)
        phases["measure_s"] = time.perf_counter() - t0
        rss_kb = {"jvm": rss_hwm_kb(jvm_pid), "python": rss_hwm_kb("self")}
        peak_rss_mb = sum(rss_kb.values()) / 1024.0
        if tracer:
            tracer.uninstall()
        e2e = end_to_end(w, rec, setup_s, peak_rss_mb)
        t0 = time.perf_counter()
        w.verify()
        phases["verify_s"] = time.perf_counter() - t0
        stop_spark(spark)
        spark = None

        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, **guard, "session_start_s": t_session, "phases": phases,
            "peak_rss_kb": rss_kb,
            "sizes": w.sizes.__dict__, "values": rec.values, "ops": summary(rec),
            "checks": w.checks,
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        if args.trace:
            import tracing

            layer = tracing.finish(tracer, trace_dir, rec, w, guard)
            detail["end_to_end_traced"] = metrics
            detail["trace_dir"] = os.path.relpath(trace_dir, checkout)
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
            detail["per_layer"] = metrics
            with open(os.path.join(trace_dir, "detail.json"), "w") as f:
                json.dump(detail, f, default=str)
        correct = all(c["ok"] for c in w.checks.values())
        print(json.dumps(detail, default=str))
        print(json.dumps({"correct": correct, "attempted": rec.attempted,
                          "failed": rec.failed, "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
