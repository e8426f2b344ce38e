#!/usr/bin/env python3
"""Per-layer report of a traced benchmark run.

    python3 perfbench/report.py .bench_runs/trace-<workload>-seed<N> \\
        [--untraced OUT ...]

``--trace 1`` keeps its spans, event log and detail under
``.bench_runs/trace-<workload>-seed<N>/``. This prints one table for that
workload: a row per span name, grouped by layer, with its count, busy time
(sum of span durations), self time (busy minus the time its child spans
cover), wait time (the part of its spans during which a Spark job they
submitted was running) and failures. Retries and conflicts are rows of
their own. ``--untraced`` takes the saved standard output of untraced runs
of the same workload; the report then gives the tracing overhead: the
traced run's end-to-end figures against the median of the untraced ones.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import tracing  # noqa: E402


def layer_of(name: str) -> str:
    parts = name.split(".")
    return parts[0] if parts[0] in ("bench", "sources", "spark") else ".".join(parts[:2])


def rows(tr: tracing.Trace, counters: dict) -> list[tuple]:
    by_name: dict[str, list[dict]] = {}
    for s in tr.spans:
        by_name.setdefault(s["name"], []).append(s)
    out = []
    for name, spans in by_name.items():
        out.append((layer_of(name), name, len(spans), tr.busy(spans),
                    sum(tr.self_time(s) for s in spans), sum(tr.job_time(s) for s in spans),
                    sum(not s["ok"] for s in spans)))
    for op in ("lake.fs.footer", "lake.fs.meta"):
        n = counters.get(f"{op}.n", 0)
        if n:
            s = counters.get(f"{op}.s", 0.0)
            out.append(("lake.fs", op, int(n), s, s, 0.0, 0))
    return sorted(out)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("trace_dir")
    ap.add_argument("--untraced", nargs="*", default=[])
    args = ap.parse_args(argv)

    with open(os.path.join(args.trace_dir, "spans.json")) as f:
        saved = json.load(f)
    with open(os.path.join(args.trace_dir, "detail.json")) as f:
        detail = json.load(f)
    logs = glob.glob(os.path.join(args.trace_dir, "eventlog", "*"))
    tr = tracing.Trace(saved["spans"], tracing.read_event_log(logs[0]))

    print(f"workload {detail['workload']}  seed {detail['seed']}  cores {detail['cores']} "
          f"(nproc {detail['nproc']}, affinity {detail['affinity']})")
    print(f"{'layer':22s} {'span':42s} {'count':>6s} {'busy_s':>9s} {'self_s':>9s} "
          f"{'wait_s':>9s} {'failed':>6s}")
    for layer, name, n, busy, self_s, wait, failed in rows(tr, saved["counters"]):
        print(f"{layer:22s} {name:42s} {n:6d} {busy:9.3f} {self_s:9.3f} {wait:9.3f} {failed:6d}")
    layer = detail.get("per_layer", {})
    for key in ("cdc.orchestrator.retries", "lake.table.commit_conflicts", "lake.catalog.conflicts",
                "lake.incremental_view.fallbacks", "cdc.orchestrator.stage_time_share"):
        if key in layer:
            print(f"{key:65s} {layer[key]['value']:9.3f}")

    if args.untraced:
        base: dict[str, list[float]] = {}
        for path in args.untraced:
            with open(path) as f:
                last = json.loads(f.read().strip().splitlines()[-1])
            for k, v in last["metrics"].items():
                base.setdefault(k, []).append(v["value"])
        print(f"\ntracing overhead (traced vs median of {len(args.untraced)} untraced runs)")
        for k, v in detail["end_to_end_traced"].items():
            if k in base:
                med = statistics.median(base[k])
                print(f"{k:20s} traced {v['value']:12.4f}  untraced {med:12.4f} {v['unit']:6s} "
                      f"{(v['value'] / med - 1) * 100:+7.1f}%")
    return 0


if __name__ == "__main__":
    sys.exit(main())
