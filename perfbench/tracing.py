"""Tracing for the benchmark's traced run (``--trace 1``).

Three sources, joined after the run:

- **Spans** from wrappers that this file installs around the engine's
  public functions, patched at the name each caller resolves them through
  (``orchestrator`` binds ``lww_dedup`` at import, so the wrapper goes on
  ``tpc_di_spark.cdc.orchestrator.lww_dedup`` as well as on ``cdc.apply``).
  Spans are kept in memory and written out when the run ends. A span opened
  on a pool thread with no open span of its own takes the innermost open
  span of the thread that installed the tracer as its parent.
- **Spark's event log** (task, stage and SQL-operator metrics), switched on
  through ``get_spark(extra_conf=...)`` and read after the session stops.
  Each job goes to the innermost span whose interval holds the job's
  submission time; job tags are thread-local and do not follow the
  engine's thread pools, so time containment is the join key.
- **JVM codegen counters** (``CodegenMetrics``), read through py4j at the
  start and end of every apply and changelog-consumer refresh span.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))

# span name -> (module, attribute path) of every wrapped callable. A name
# listed twice wraps each binding a caller resolves it through.
TARGETS = [
    ("cdc.orchestrator.apply_batch", "tpc_di_spark.cdc.orchestrator", "CdcOrchestrator.apply_batch"),
    ("cdc.orchestrator.attempt", "tpc_di_spark.cdc.orchestrator", "CdcOrchestrator._apply_batch_once"),
    ("cdc.orchestrator.lineage_footers", "tpc_di_spark.cdc.orchestrator", "CdcOrchestrator._lineage_rows"),
    ("cdc.orchestrator.auto_compact", "tpc_di_spark.cdc.orchestrator", "CdcOrchestrator._maybe_auto_compact"),
    ("cdc.apply.lww_dedup", "tpc_di_spark.cdc.orchestrator", "lww_dedup"),
    ("cdc.apply.lww_dedup", "tpc_di_spark.cdc.mor", "lww_dedup"),
    ("cdc.apply.merge_batch_rows", "tpc_di_spark.cdc.orchestrator", "merge_batch_rows"),
    ("cdc.apply.insert_only_rows", "tpc_di_spark.cdc.orchestrator", "insert_only_rows"),
    ("cdc.apply.align_events", "tpc_di_spark.cdc.orchestrator", "align_events"),
    ("lake.table.bucket_partitioned", "tpc_di_spark.lake.table", "LakeTable.bucket_partitioned"),
    ("lake.table.read_bucketed", "tpc_di_spark.lake.table", "LakeTable.read_bucketed"),
    ("lake.table.write", "tpc_di_spark.lake.table", "LakeTable.write_data_files_split"),
    ("lake.table.write", "tpc_di_spark.lake.table", "LakeTable.write_data_files"),
    ("lake.table.commit", "tpc_di_spark.lake.table", "LakeTable.commit"),
    ("lake.table.lookup_plan", "tpc_di_spark.lake.table", "LakeTable.lookup"),
    ("lake.maintenance.compact", "tpc_di_spark.lake.maintenance", "compact"),
    ("lake.maintenance.consolidate", "tpc_di_spark.lake.maintenance", "consolidate_blooms"),
    ("lake.wap.begin", "tpc_di_spark.lake.wap", "WapBranch.begin"),
    ("lake.wap.audit", "tpc_di_spark.lake.wap", "_run_checks"),
    ("lake.wap.publish", "tpc_di_spark.lake.wap", "WapBranch.publish"),
    ("lake.catalog.apply_batch_atomic_wap", "tpc_di_spark.lake.catalog", "apply_batch_atomic_wap"),
    ("lake.catalog.commit", "tpc_di_spark.lake.catalog", "MultiTableTransaction.commit"),
    ("cdc.mor.apply_batch_mor", "tpc_di_spark.cdc.mor", "apply_batch_mor"),
    ("cdc.mor.read_deltas", "tpc_di_spark.cdc.mor", "read_deltas"),
    ("cdc.mor.current_state_mor", "tpc_di_spark.cdc.mor", "current_state_mor"),
    ("cdc.mor.lookup_mor", "tpc_di_spark.cdc.mor", "lookup_mor"),
    ("cdc.mor.compact_deltas", "tpc_di_spark.cdc.mor", "compact_deltas"),
    ("cdc.mor.compact_one", "tpc_di_spark.cdc.orchestrator", "CdcOrchestrator._compact_one_delta"),
    ("lake.incremental_view.refresh", "tpc_di_spark.lake.incremental_view", "IncrementalView.refresh"),
    ("lake.incremental_view.fallback_check", "tpc_di_spark.lake.incremental_view", "needs_per_batch_fallback"),
    ("lake.derived.refresh", "tpc_di_spark.lake.derived", "DerivedTableSync.refresh"),
    ("sources.debezium", "tpc_di_spark.sources.debezium", "parse_debezium"),
] + [
    (f"lake.changelog.{fn}", mod, fn)
    for mod in ("tpc_di_spark.lake.incremental_view", "tpc_di_spark.lake.derived")
    for fn in ("rows_created_since", "rows_closed_since", "rows_created_in", "rows_closed_in")
]
CODEGEN_SPANS = {"cdc.orchestrator.apply_batch", "lake.incremental_view.refresh",
                 "lake.derived.refresh"}
FOOTER_OPS = ("parquet_num_rows", "parquet_column_minmax")
META_OPS = ("read_text", "write_text", "replace_text", "create_text", "exists", "makedirs",
            "listdir", "remove", "rmtree", "link_view", "mtime")


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[dict] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.cached: list[int] = []
        self._next = 0
        cm = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._compile_hist = cm.METRIC_COMPILATION_TIME()
        self._class_hist = cm.METRIC_GENERATED_CLASS_BYTECODE_SIZE()

    # ---------------------------------------------------------------- spans
    def _stack(self) -> list[dict]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def codegen(self) -> tuple[int, float]:
        """(classes generated, compile seconds) so far in this JVM."""
        values = list(self._compile_hist.getSnapshot().getValues())
        return int(self._class_hist.getCount()), sum(values) / 1000.0

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            self._next += 1
            sid = self._next
        rec = {"id": sid, "parent": parent["id"] if parent else None, "name": name,
               "thread": threading.get_ident(), "ok": True, **attrs}
        if name in CODEGEN_SPANS:
            rec["codegen0"] = self.codegen()
        stack.append(rec)
        rec["t0"] = time.time()
        try:
            yield rec
        except BaseException as e:
            rec["ok"] = False
            rec["error"] = type(e).__name__
            raise
        finally:
            rec["t1"] = time.time()
            stack.pop()
            if name in CODEGEN_SPANS:
                rec["codegen1"] = self.codegen()
            with self._lock:
                self.spans.append(rec)

    def _wrap(self, name, fn):
        tracer = self

        def wrapper(*a, **kw):
            with tracer.span(name) as rec:
                out = fn(*a, **kw)
                _annotate(name, out, rec)
                return out

        wrapper.__wrapped__ = fn
        return wrapper

    def _count(self, name, fn):
        tracer = self

        def wrapper(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                dt = time.perf_counter() - t0
                with tracer._lock:
                    tracer.counters[f"{name}.n"] += 1
                    tracer.counters[f"{name}.s"] += dt

        wrapper.__wrapped__ = fn
        return wrapper

    def _patch(self, owner, attr, new):
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._patched.append((owner, attr, raw))
        if isinstance(raw, classmethod):
            new = classmethod(new)
        setattr(owner, attr, new)

    def install(self) -> None:
        for name, mod, path in TARGETS:
            owner = importlib.import_module(mod)
            *cls_path, attr = path.split(".")
            for part in cls_path:
                owner = getattr(owner, part)
            raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            fn = raw.__func__ if isinstance(raw, classmethod) else raw
            self._patch(owner, attr, self._wrap(name, fn))
        from tpc_di_spark.lake.fs import LocalFS

        for op in FOOTER_OPS:
            self._patch(LocalFS, op, self._count("lake.fs.footer", LocalFS.__dict__[op]))
        for op in META_OPS:
            self._patch(LocalFS, op, self._count("lake.fs.meta", LocalFS.__dict__[op]))

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._patched):
            setattr(owner, attr, raw)
        self._patched.clear()

    def after_op(self) -> None:
        """Bytes Spark still caches after a benchmark operation."""
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        self.cached.append(sum(i.memSize() + i.diskSize() for i in infos))


def _annotate(name: str, out, rec: dict) -> None:
    """Counts a span can read off its own return value."""
    if name == "lake.table.write":
        files = out[0] if isinstance(out, tuple) else out
        hist = out[1] if isinstance(out, tuple) else {}
        rec["files"] = sum(len(v) for v in files.values()) + sum(len(v) for v in hist.values())
    elif name == "cdc.orchestrator.apply_batch" and isinstance(out, dict):
        rec["groups"] = len(out.get("groups", []))
        rec["events_in"] = out.get("events_in")
    elif name == "lake.maintenance.compact" and isinstance(out, dict):
        rec["compacted_buckets"] = out.get("compacted_buckets", 0)
    elif name.startswith("lake.changelog."):
        rec["files"] = len(out.inputFiles())
    elif name == "lake.incremental_view.fallback_check":
        rec["fallback"] = bool(out)
    elif name == "cdc.mor.apply_batch_mor" and isinstance(out, dict):
        rec["delta_files"] = out.get("delta_buckets", 0)


# ------------------------------------------------------- 1-core baseline
BASELINE_BATCHES = 2  # the first warms the JVM, the rest are timed


def snapshot_for_baseline(dest: str):
    """Hook run by ``replay_bulk`` just before its incremental phase: copy
    the table as it stands, so the 1-core baseline replays the same batches
    onto the same state."""

    def hook(workload) -> None:
        shutil.copytree(workload.table.path, os.path.join(dest, "table"), symlinks=True)
        workload.baseline_dir = dest

    return hook


def one_core_baseline(workload, guard: dict, trace_dir: str, rec) -> dict:
    """Replay ``replay_bulk``'s first incremental batches on the saved
    pre-incremental table in a subprocess pinned to one CPU at ``local[1]``,
    traced like this run. The batches after the first are timed there and
    in this run (the same table state, the same work, the same tracing),
    and the scaling efficiency is (rate here / rate on 1 CPU) / cores."""
    batches = list(zip(workload.ti, workload.ti_paths))[:BASELINE_BATCHES]
    spec = {
        "cpu": guard["affinity"][0],
        "table": os.path.join(workload.baseline_dir, "table"),
        "work": workload.baseline_dir,
        "event_log": os.path.join(trace_dir, "eventlog-1core"),
        "batches": [[b.batch_id, p] for b, p in batches],
        "buckets": workload.sizes.buckets,
    }
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "baseline.py"), json.dumps(spec)],
        capture_output=True, text=True, timeout=100,
    )
    if out.returncode != 0:
        raise RuntimeError(f"1-core baseline failed:\n{out.stderr[-2000:]}")
    one = json.loads(out.stdout.strip().splitlines()[-1])
    events = sum(len(b) for b, _p in batches[1:])
    rate1 = events / sum(one["apply_s"])
    rate_n = events / sum(rec.samples["apply"][1:BASELINE_BATCHES])
    return {"cpu": one["cpu"], "batches": [b.batch_id for b, _p in batches[1:]],
            "apply_s_1core": one["apply_s"],
            "apply_s": rec.samples["apply"][1:BASELINE_BATCHES],
            "events_per_s_1core": rate1, "events_per_s": rate_n,
            "scale_eff": rate_n / rate1 / guard["cores"]}


# ------------------------------------------------------------ event log
def _lines(files):
    for p in files:
        with open(p) as f:
            yield from f


def read_event_log(path: str) -> dict:
    """Jobs, stages, tasks and SQL-operator metrics from one event log."""
    jobs, stages, tasks = {}, {}, defaultdict(list)
    accum_meta, driver_accums, task_accums = {}, defaultdict(float), defaultdict(list)

    def plan_metrics(node):
        for m in node.get("metrics", []):
            accum_meta[m["accumulatorId"]] = (node["nodeName"] + " " + node.get("simpleString", ""),
                                              m["name"], m.get("metricType"))
        for c in node.get("children", []):
            plan_metrics(c)

    files = sorted(glob.glob(os.path.join(path, "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1])) if os.path.isdir(path) else [path]
    for line in _lines(files):
        e = json.loads(line)
        ev = e.get("Event", "")
        if ev == "SparkListenerJobStart":
            ex = (e.get("Properties") or {}).get("spark.sql.execution.id")
            jobs[e["Job ID"]] = {"submit": e["Submission Time"] / 1000.0,
                                 "stages": e.get("Stage IDs", []),
                                 "exec": int(ex) if ex is not None else None}
        elif ev == "SparkListenerJobEnd":
            jobs.setdefault(e["Job ID"], {"stages": []})["end"] = e["Completion Time"] / 1000.0
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            stages[si["Stage ID"]] = {"submit": si.get("Submission Time", 0) / 1000.0,
                                      "end": si.get("Completion Time", 0) / 1000.0}
        elif ev == "SparkListenerTaskEnd":
            tm = e.get("Task Metrics") or {}
            sw = tm.get("Shuffle Write Metrics", {})
            sr = tm.get("Shuffle Read Metrics", {})
            t = {
                "run_s": tm.get("Executor Run Time", 0) / 1000.0,
                "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
                "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                "shuffle_w": sw.get("Shuffle Bytes Written", 0),
                "shuffle_w_s": sw.get("Shuffle Write Time", 0) / 1e9,
                "shuffle_r": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "out_bytes": tm.get("Output Metrics", {}).get("Bytes Written", 0),
            }
            tasks[e["Stage ID"]].append(t)
            for a in e.get("Task Info", {}).get("Accumulables", []):
                if isinstance(a.get("Update"), (int, float, str)):
                    try:
                        task_accums[a["ID"]].append((e["Stage ID"], float(a["Update"])))
                    except ValueError:
                        pass
        elif ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            plan_metrics(e["sparkPlanInfo"])
        elif ev.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e["accumUpdates"]:
                driver_accums[(e["executionId"], acc_id)] += value
    return {"jobs": jobs, "stages": stages, "tasks": tasks,
            "accum_meta": accum_meta, "driver_accums": driver_accums,
            "task_accums": task_accums}


def attribute_jobs(spans: list[dict], log: dict) -> dict[int, int]:
    """job id -> id of the innermost span whose interval holds the job's
    submission (latest-starting among the containing spans)."""
    ordered = sorted(spans, key=lambda s: s["t0"])
    out = {}
    for jid, j in log["jobs"].items():
        t = j.get("submit")
        if t is None:
            continue
        best = None
        for s in ordered:
            if s["t0"] > t:
                break
            if s["t1"] >= t and (best is None or s["t0"] >= best["t0"]):
                best = s
        if best is not None:
            out[jid] = best["id"]
    return out


# ------------------------------------------------------ layer metrics
def _union(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _clip(intervals, a, b):
    return [(max(x, a), min(y, b)) for x, y in intervals if y > a and x < b]


class Trace:
    """Spans joined with the event log: the queries the layer metrics need."""

    def __init__(self, spans: list[dict], log: dict):
        self.spans = spans
        self.by_id = {s["id"]: s for s in spans}
        self.children = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                self.children[s["parent"]].append(s)
        self.log = log
        self.job_span = attribute_jobs(spans, log)

    def named(self, name: str, under: tuple[str, ...] | None = None) -> list[dict]:
        out = [s for s in self.spans if s["name"] == name]
        if under:
            out = [s for s in out if self.ancestor(s, under)]
        return out

    def ancestor(self, s: dict, names) -> dict | None:
        p = self.by_id.get(s["parent"])
        while p is not None:
            if p["name"] in names:
                return p
            p = self.by_id.get(p["parent"])
        return None

    def subtree(self, s: dict) -> list[dict]:
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(self.children[x["id"]])
        return out

    def within(self, spans) -> set[int]:
        """Ids of ``spans`` and every span below them."""
        return {x["id"] for s in spans for x in self.subtree(s)}

    def jobs(self, spans) -> list[int]:
        ids = self.within(spans)
        return sorted(j for j, sid in self.job_span.items() if sid in ids)

    def stages(self, jobs) -> list[int]:
        return sorted({st for j in jobs for st in self.log["jobs"][j]["stages"]
                       if st in self.log["stages"]})

    def tasks(self, stages):
        return [t for st in stages for t in self.log["tasks"].get(st, [])]

    def busy(self, spans) -> float:
        return sum(s["t1"] - s["t0"] for s in spans)

    def self_time(self, s: dict) -> float:
        kids = [(c["t0"], c["t1"]) for c in self.children[s["id"]]]
        return (s["t1"] - s["t0"]) - _union(_clip(kids, s["t0"], s["t1"]))

    def job_time(self, s: dict) -> float:
        """Part of ``s``'s interval during which one of its jobs ran."""
        iv = [(self.log["jobs"][j]["submit"], self.log["jobs"][j].get("end", s["t1"]))
              for j in self.jobs([s])]
        return _union(_clip(iv, s["t0"], s["t1"]))

    def stage_time(self, s: dict) -> float:
        """Part of ``s``'s interval during which one of its stages ran on
        the executors."""
        st = self.stages(self.jobs([s]))
        iv = [(self.log["stages"][x]["submit"], self.log["stages"][x]["end"]) for x in st]
        return _union(_clip(iv, s["t0"], s["t1"]))

    def sql_metric(self, spans, node_pred, metric: str) -> tuple[float, list[int]]:
        """Sum of one task-side SQL-operator metric over the stages of
        ``spans``'s jobs, in its natural unit (seconds for timings, bytes,
        rows), and the stages that reported it."""
        stages = set(self.stages(self.jobs(spans)))
        total, seen = 0.0, set()
        for acc_id, (node, name, mtype) in self.log["accum_meta"].items():
            if name != metric or not node_pred(node):
                continue
            for st, v in self.log["task_accums"].get(acc_id, []):
                if st in stages:
                    total += _scale(v, mtype)
                    seen.add(st)
        return total, sorted(seen)

    def driver_metric(self, spans, node_pred, metric: str) -> float:
        """Sum of a driver-side SQL metric (such as a write's job commit
        time) over the SQL executions whose jobs ran under ``spans``."""
        execs = {self.log["jobs"][j].get("exec") for j in self.jobs(spans)}
        total = 0.0
        for (ex, acc_id), v in self.log["driver_accums"].items():
            node, name, mtype = self.log["accum_meta"].get(acc_id, ("", "", None))
            if ex in execs and name == metric and node_pred(node):
                total += _scale(v, mtype)
        return total


def _scale(v: float, mtype: str | None) -> float:
    if mtype == "timing":
        return v / 1000.0
    if mtype == "nsTiming":
        return v / 1e9
    return v


def _mean(xs) -> float:
    return statistics.fmean(xs) if xs else 0.0


def _ratio(a, b) -> float:
    return a / b if b else 0.0


def layer_metrics(tr: Trace, tracer_counters: dict, cached: list[int], rec,
                  baseline: dict | None) -> dict:
    """Every per-layer metric of ``BENCHMARK.json``; a layer the workload
    does not run reports 0."""
    m: dict[str, tuple[float, str]] = {}
    top = ("bench.apply", "bench.th")
    applies = [s for s in tr.named("cdc.orchestrator.apply_batch")
               if tr.ancestor(s, top) and not tr.ancestor(s, ("cdc.orchestrator.apply_batch",))]
    attempts = tr.named("cdc.orchestrator.attempt", top)
    ops = {k: tr.named(f"bench.{k}") for k in ("apply", "lookup", "source_read", "live_scan",
                                                 "compact", "view_refresh", "derived_refresh")}
    apply_jobs = tr.jobs(applies)
    apply_stages = tr.stages(apply_jobs)
    apply_tasks = tr.tasks(apply_stages)
    in_applies = tr.within(applies)

    # sources
    # source reads are lazy; the traced run forces each one inside its span
    m["sources.read_s"] = (tr.busy(ops["source_read"]), "s")
    m["sources.events_in"] = (float(sum(s.get("events_in") or 0 for s in applies)), "count")
    m["sources.quarantined"] = (float(rec.values.get("quarantined", 0)), "count")

    # lake.table bucket exchange: shuffle writes of the apply jobs
    ex_stages = [st for st in apply_stages if any(t["shuffle_w"] for t in tr.log["tasks"][st])]
    rd_stages = [st for st in apply_stages if any(t["shuffle_r"] for t in tr.log["tasks"][st])]
    m["lake.table.exchange_bytes"] = (float(sum(t["shuffle_w"] for t in tr.tasks(ex_stages))), "B")
    m["lake.table.exchange_write_s"] = (sum(t["shuffle_w_s"] for t in tr.tasks(ex_stages)), "s")
    skews = []
    for st in rd_stages:
        reads = [t["shuffle_r"] for t in tr.log["tasks"][st]]
        med = statistics.median(reads)
        if med > 0:
            skews.append(max(reads) / med)
    m["lake.table.exchange_skew"] = (max(skews) if skews else 0.0, "ratio")

    # cdc.apply
    plan = [s for n in ("cdc.apply.lww_dedup", "cdc.apply.merge_batch_rows",
                        "cdc.apply.insert_only_rows", "cdc.apply.align_events",
                        "lake.table.bucket_partitioned")
            for s in tr.named(n) if s["id"] in in_applies]
    m["cdc.apply.plan_s"] = (tr.busy(plan), "s")
    is_agg = lambda n: "Aggregate" in n  # noqa: E731
    # the LWW fold's final aggregate (its partial twin outputs more rows)
    is_lww = lambda n: "Aggregate" in n and "max_by(" in n and "partial_max_by(" not in n  # noqa: E731
    is_shj = lambda n: n.startswith("ShuffledHashJoin")  # noqa: E731
    is_fold = lambda n: "Aggregate" in n and "collect_list(" in n and "partial_" not in n  # noqa: E731
    agg_out, _ = tr.sql_metric(applies, is_lww, "number of output rows")
    lww_in = float(sum(s.get("events_in") or 0 for s in applies))
    m["cdc.apply.lww_rows_in"] = (lww_in, "count")
    m["cdc.apply.lww_rows_out"] = (agg_out, "count")
    m["cdc.apply.lww_keep_ratio"] = (_ratio(agg_out, lww_in), "ratio")
    build_s, shj_stages = tr.sql_metric(applies, is_shj, "time to build hash map")
    build_b, _ = tr.sql_metric(applies, is_shj, "data size of build side")
    m["cdc.apply.merge_build_s"] = (build_s, "s")
    m["cdc.apply.merge_build_bytes"] = (build_b, "B")
    merge_tasks = tr.tasks(shj_stages)
    run_s = sum(t["run_s"] for t in merge_tasks)
    m["cdc.apply.merge_stage_s"] = (run_s, "s")
    m["cdc.apply.merge_stage_cpu_ratio"] = (_ratio(sum(t["cpu_s"] for t in merge_tasks), run_s), "ratio")

    # lake.table write, commit, read
    writes = [s for s in tr.named("lake.table.write") if s["id"] in in_applies]
    m["lake.table.write_s"] = (tr.busy(writes), "s")
    files = sum(s.get("files", 0) for s in writes)
    m["lake.table.files_written"] = (float(files), "count")
    out_bytes = sum(t["out_bytes"] for t in apply_tasks)
    m["lake.table.bytes_written_per_event"] = (_ratio(out_bytes, rec.values.get("ti_events", 0)), "B/ev")
    m["lake.table.job_commit_s"] = (tr.driver_metric(applies, lambda n: True, "job commit time"), "s")
    commits = [s for s in tr.named("lake.table.commit") if s["id"] in in_applies]
    m["lake.table.commit_s"] = (tr.busy(commits), "s")
    m["lake.table.commit_conflicts"] = (float(sum(s.get("error") == "CommitConflict"
                                                  for s in tr.named("lake.table.commit"))), "count")
    m["lake.table.read_bucketed_s"] = (tr.busy(tr.named("lake.table.read_bucketed", top)), "s")
    lookups = ops["lookup"]
    m["lake.table.lookup_s"] = (tr.busy(lookups), "s")
    scanned = tr.driver_metric(lookups, lambda n: "Scan" in n, "number of files read")
    m["lake.table.lookup_files_scanned"] = (_ratio(scanned, len(lookups)), "files/lookup")

    # lake.fs
    m["lake.fs.footer_reads"] = (tracer_counters.get("lake.fs.footer.n", 0.0), "count")
    m["lake.fs.footer_s"] = (tracer_counters.get("lake.fs.footer.s", 0.0), "s")
    m["lake.fs.meta_ops"] = (tracer_counters.get("lake.fs.meta.n", 0.0), "count")

    # cdc.orchestrator
    n_apply = len(applies)
    m["cdc.orchestrator.apply_s"] = (_ratio(tr.busy(applies), n_apply), "s/apply")
    gaps = [(s["t1"] - s["t0"]) - tr.job_time(s) for s in applies]
    m["cdc.orchestrator.driver_gap_s"] = (_ratio(sum(gaps), n_apply), "s/apply")
    stage_share = _ratio(sum(tr.stage_time(s) for s in applies), tr.busy(applies))
    m["cdc.orchestrator.stage_time_share"] = (stage_share, "ratio")
    m["cdc.orchestrator.jobs_per_apply"] = (_ratio(len(apply_jobs), n_apply), "jobs/apply")
    m["cdc.orchestrator.stages_per_apply"] = (_ratio(len(apply_stages), n_apply), "stages/apply")
    m["cdc.orchestrator.groups_per_apply"] = (_ratio(sum(s.get("groups", 0) for s in applies), n_apply),
                                              "groups/apply")
    m["cdc.orchestrator.retries"] = (float(max(0, len(attempts) - n_apply)), "count")

    # lake.maintenance
    compacts = tr.named("lake.maintenance.compact")
    m["lake.maintenance.compact_s"] = (tr.busy(compacts), "s")
    m["lake.maintenance.compactions"] = (float(sum(s.get("compacted_buckets", 0) for s in compacts)),
                                         "buckets")
    m["lake.maintenance.bytes_rewritten"] = (float(sum(
        t["out_bytes"] for t in tr.tasks(tr.stages(tr.jobs(compacts))))), "B")
    m["lake.maintenance.consolidate_s"] = (tr.busy(tr.named("lake.maintenance.consolidate")), "s")

    # lake.wap and lake.catalog
    waps = tr.named("lake.catalog.apply_batch_atomic_wap")
    staged = [s for s in tr.named("cdc.orchestrator.apply_batch")
              if tr.ancestor(s, ("lake.catalog.apply_batch_atomic_wap",))]
    audits = tr.named("lake.wap.audit")
    m["lake.wap.stage_s"] = (tr.busy(staged) + tr.busy(tr.named("lake.wap.begin")), "s")
    m["lake.wap.audit_s"] = (tr.busy(audits), "s")
    m["lake.wap.audit_jobs"] = (_ratio(len(tr.jobs(audits)), len(waps)), "jobs/publish")
    m["lake.wap.publish_s"] = (tr.busy(tr.named("lake.wap.publish")), "s")
    cat_commits = tr.named("lake.catalog.commit")
    m["lake.catalog.commit_s"] = (tr.busy(cat_commits), "s")
    m["lake.catalog.conflicts"] = (float(sum(not s["ok"] for s in cat_commits)), "count")

    # cdc.mor
    appends = tr.named("cdc.mor.apply_batch_mor")
    m["cdc.mor.append_s"] = (tr.busy(appends), "s")
    m["cdc.mor.delta_files"] = (float(sum(s.get("delta_files", 0) for s in appends)), "count")
    m["cdc.mor.pending_deltas"] = (_mean(rec.values.get("pending_deltas", [])), "batches")
    reads = ops["live_scan"] + tr.named("bench.mor_lookup")
    scan_rows, _ = tr.sql_metric(reads, lambda n: "Scan" in n, "number of output rows")
    fold_out, _ = tr.sql_metric(reads, is_fold, "number of output rows")
    m["cdc.mor.fold_rows_per_row_out"] = (_ratio(scan_rows, fold_out), "ratio")
    m["cdc.mor.read_s"] = (tr.busy(reads), "s")
    m["cdc.mor.compact_s"] = (tr.busy(tr.named("cdc.mor.compact_deltas")), "s")

    # changelog consumers
    refreshes = tr.named("lake.incremental_view.refresh")
    derived = tr.named("lake.derived.refresh")
    consumers = refreshes + derived
    # files each changelog read selected, against all the files the table
    # held when the refreshes ran
    cl_reads = [s for s in tr.spans if s["name"].startswith("lake.changelog.")]
    cl_files = float(sum(s.get("files", 0) for s in cl_reads))
    m["lake.changelog.files_scanned"] = (cl_files, "count")
    total_files = len(cl_reads) * _mean(rec.values.get("changelog_table_files", []))
    m["lake.changelog.files_skipped_ratio"] = (1.0 - _ratio(cl_files, total_files) if total_files else 0.0,
                                              "ratio")
    m["lake.incremental_view.refresh_s"] = (tr.busy(refreshes), "s")
    m["lake.incremental_view.jobs_per_refresh"] = (_ratio(len(tr.jobs(refreshes)), len(refreshes)),
                                                   "jobs/refresh")
    m["lake.incremental_view.fallbacks"] = (float(sum(
        s.get("fallback", False) for s in tr.named("lake.incremental_view.fallback_check"))), "count")
    m["lake.derived.refresh_s"] = (tr.busy(derived), "s")

    # spark
    def codegen(spans):
        if not spans:
            return 0.0, 0.0
        n = sum(s["codegen1"][0] - s["codegen0"][0] for s in spans)
        t = sum(s["codegen1"][1] - s["codegen0"][1] for s in spans)
        return n / len(spans), t / len(spans)

    m["spark.codegen.classes_per_apply"] = (codegen(applies)[0], "classes")
    m["spark.codegen.compile_s_per_apply"] = (codegen(applies)[1], "s")
    m["spark.codegen.classes_per_refresh"] = (codegen(consumers)[0], "classes")
    m["spark.codegen.compile_s_per_refresh"] = (codegen(consumers)[1], "s")
    all_tasks = [t for ts in tr.log["tasks"].values() for t in ts]
    m["spark.gc_s"] = (sum(t["gc_s"] for t in all_tasks), "s")
    m["spark.spill_bytes"] = (float(sum(t["spill"] for t in all_tasks)), "B")
    m["spark.cached_bytes_after_op"] = (float(max(cached or [0])), "B")
    m["spark.scale_eff_1to4"] = (baseline["scale_eff"] if baseline else 0.0, "ratio")
    m["spark.ti_events_per_s_1core"] = (baseline["events_per_s_1core"] if baseline else 0.0, "ev/s")
    return m


def finish(tracer: Tracer, trace_dir: str, rec, workload, guard: dict) -> dict:
    """After the session has stopped: keep the spans, read the event log,
    run the 1-core baseline (``replay_bulk``), and compute the per-layer
    metrics."""
    with open(os.path.join(trace_dir, "spans.json"), "w") as f:
        json.dump({"spans": tracer.spans, "counters": tracer.counters,
                   "cached_bytes": tracer.cached, "values": rec.values}, f, default=str)
    logs = glob.glob(os.path.join(trace_dir, "eventlog", "*"))
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {trace_dir}, found {logs}")
    baseline = None
    if getattr(workload, "baseline_dir", None):
        baseline = one_core_baseline(workload, guard, trace_dir, rec)
        rec.values["one_core_baseline"] = baseline
    tr = Trace(tracer.spans, read_event_log(logs[0]))
    return layer_metrics(tr, tracer.counters, tracer.cached, rec, baseline)
