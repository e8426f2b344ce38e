"""The benchmark's two workloads.

Each workload generates its change files from the seed (``prepare``, not
timed), builds its tables (``setup``: bootstrap, a warm-up so the JVM has
compiled the measured code before timing starts, and the initial load),
runs the timed part (``measure``) through the engine's public API, and
checks the final state against the DuckDB reference (``verify``, not
timed).

- ``replay_bulk``: TPC-DI's historical load then several skewed
  incremental batches into a 64-bucket table on the single-group path; the
  last batch adds the ``tool`` column. The batches form a backlog due when
  the incremental phase starts.
- ``tail_audited``: an open-loop binlog tail. Batch k is due at
  t0 + k * interval; each is a small Debezium JSONL drop applied atomically
  to ``transcripts`` (grouped path, auto-compaction on) and the
  ``conversations`` dimension through write-audit-publish, with
  unique-key, not-null and foreign-key audits, then point lookups of keys
  it just wrote. The same events go to a merge-on-read serving replica as
  delta appends; after the last tick it serves a point lookup and a
  live-state aggregate with the deltas pending, compacts them, and an
  ``IncrementalView`` and a ``DerivedTableSync`` refresh from its changelog.
"""

from __future__ import annotations

import functools
import math
import os
import shutil
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass
from types import SimpleNamespace

import numpy as np
import pandas as pd

import inputs
import reference

TRANSCRIPT_REF_TYPES = {
    "conv_id": "VARCHAR", "turn_idx": "INTEGER", "role": "VARCHAR",
    "text": "VARCHAR", "tool": "VARCHAR", "ts": "TIMESTAMP",
}
TRANSCRIPT_COLS = list(TRANSCRIPT_REF_TYPES)
DIM_REF_TYPES = {"conv_id": "VARCHAR", "owner": "VARCHAR", "status": "VARCHAR", "ts": "TIMESTAMP"}
DIM_COLS = list(DIM_REF_TYPES)


class Recorder:
    """Timed operations of one run: samples per kind, attempts, failures.

    With a tracer attached, every operation is also a ``bench.<kind>`` span,
    the root of the engine spans it causes."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.enabled = False  # off during set-up
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.values: dict[str, float] = {}

    @contextmanager
    def op(self, kind: str):
        span = self.tracer.span(f"bench.{kind}") if self.tracer and self.enabled else nullcontext()
        t0 = time.perf_counter()
        self.attempted += self.enabled
        try:
            with span:
                yield
        except BaseException:
            self.failed += self.enabled
            raise
        if self.enabled:
            self.samples.setdefault(kind, []).append(time.perf_counter() - t0)
            if self.tracer:
                self.tracer.after_op()

    def add(self, kind: str, value: float) -> None:
        if self.enabled:
            self.samples.setdefault(kind, []).append(value)


def read_source(rec: Recorder, read):
    """``read()``'s events DataFrames, built inside a ``source_read``
    operation. Spark reads lazily, so a traced run also forces every frame
    there (a ``noop`` write): the span then holds the scan and parse work of
    the source, which the apply repeats."""
    with rec.op("source_read"):
        frames = read()
        if rec.tracer is not None and rec.enabled:
            for df in frames:
                df.write.format("noop").mode("overwrite").save()
    return frames


def lww_winners(batch) -> pd.DataFrame:
    """Per key, the batch's last event by (ts, cdc_dsn)."""
    df = pd.DataFrame({"conv": batch.conv, "turn": batch.turn, "flag": batch.flag,
                       "ts": batch.ts_s, "dsn": batch.dsn})
    return df.sort_values(["ts", "dsn"]).groupby(["conv", "turn"], as_index=False).tail(1)


def probe_keys(rng, batch, n: int, lookups: int) -> list[list[dict]]:
    """Keys whose last event in ``batch`` is not a delete, so each is live
    right after the batch is applied: ``lookups`` lists of ``n`` keys."""
    w = lww_winners(batch)
    w = w[w["flag"] != "D"]
    pick = w.iloc[rng.choice(len(w), size=n * lookups, replace=False)]
    keys = [{"conv_id": f"conv-{int(c):06d}", "turn_idx": int(t)}
            for c, t in zip(pick["conv"], pick["turn"])]
    return [keys[i * n:(i + 1) * n] for i in range(lookups)]


def file_bytes(paths) -> int:
    return sum(os.path.getsize(p) for p in paths)


def tree_bytes(dirs) -> int:
    """Bytes under ``dirs``, each inode counted once (bucket views are
    hardlinks of data files)."""
    seen, total = set(), 0
    for d in dirs:
        for base, _dirs, files in os.walk(d):
            for f in files:
                st = os.lstat(os.path.join(base, f))
                if (st.st_dev, st.st_ino) not in seen:
                    seen.add((st.st_dev, st.st_ino))
                    total += st.st_size
    return total


class Workload:
    """Shared driver: subclasses define sizes and the four phases."""

    name = ""

    def __init__(self, root: str, seed: int, seconds: float, rec: Recorder):
        self.spark = None
        self.root = root
        self.rec = rec
        self.sizes = self.default_sizes(seconds)
        self.rng = np.random.default_rng(seed)
        self.in_dir = os.path.join(root, "in")
        self.lake = os.path.join(root, "lake")
        self.input_paths: list[str] = []
        self.table_dirs: list[str] = []
        self.checks: dict[str, object] = {}

    def storage_amp(self) -> float:
        return tree_bytes(self.table_dirs) / file_bytes(self.input_paths)

    def check(self, name: str, ok: bool, **detail) -> None:
        self.checks[name] = {"ok": bool(ok), **detail}

    def live_check(self, name, engine_df, replay: reference.Replay, cols) -> None:
        ref = replay.live()
        self.check(
            name,
            len(engine_df) == len(ref)
            and reference.live_hash(engine_df, cols) == reference.live_hash(ref, cols),
            engine_rows=len(engine_df),
            reference_rows=len(ref),
        )



    def lookups(self, lookup, probes, bid, kind: str = "lookup") -> None:
        for i, keys in enumerate(probes):
            with self.rec.op(kind):
                got = lookup(keys).collect()
            self.check(f"{kind}_b{bid}_{i}", len(got) == len(keys), rows=len(got), keys=len(keys))


# ------------------------------------------------------------------ bulk
@dataclass(frozen=True)
class BulkSizes:
    convs: int = 1500
    turns: int = 20
    text_repeat: int = 2
    warm_convs: int = 200
    warm_events: int = 1000
    warm_buckets: int = 8
    ti_batches: int = 4
    ti_events: int = 7500
    skew: float = 2.0
    buckets: int = 64
    lookup_keys: int = 4
    lookups: int = 1


class ReplayBulk(Workload):
    name = "replay_bulk"

    @staticmethod
    def default_sizes(seconds):
        return BulkSizes(ti_batches=max(4, round(seconds / 5)))

    def prepare(self):
        s, rng = self.sizes, self.rng
        self.th = inputs.historical(rng, s.convs, s.turns, s.text_repeat)
        last = s.ti_batches + 1
        self.ti = [
            inputs.incremental(rng, b, s.ti_events, 0, s.convs, s.turns, s.skew,
                               s.text_repeat, with_tool=(b == last))
            for b in range(2, last + 1)
        ]
        self.th_path = inputs.write_parquet(self.th, self.in_dir)
        self.ti_paths = [inputs.write_parquet(b, self.in_dir) for b in self.ti]
        self.probes = [probe_keys(rng, b, s.lookup_keys, s.lookups) for b in self.ti]
        self.input_paths = [self.th_path, *self.ti_paths]
        # the warm-up's own small TH and TI, for a throwaway table
        warm_dir = os.path.join(self.root, "warmup-in")
        warm_th = inputs.historical(rng, s.warm_convs, s.turns, s.text_repeat)
        warm_ti = inputs.incremental(rng, 2, s.warm_events, 0, s.warm_convs, s.turns, s.skew,
                                     s.text_repeat, with_tool=True)
        self.warm_paths = [inputs.write_parquet(b, warm_dir) for b in (warm_th, warm_ti)]
        self.warm_probes = probe_keys(rng, warm_ti, s.lookup_keys, 1)

    def setup(self):
        """Bootstrap, a warm-up, then the historical load (TPC-DI's TH). The
        warm-up runs a small TH, TI batch and lookup through a small
        throwaway table on the same path, so the JVM has compiled the load and merge
        paths before TH is timed."""
        from tpc_di_spark.cdc.orchestrator import CdcOrchestrator, bootstrap_table
        from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA

        s = self.sizes
        warm_path = os.path.join(self.root, "warmup")
        warm = bootstrap_table(self.spark, warm_path, TRANSCRIPT_SCHEMA, num_buckets=s.warm_buckets)
        orch = CdcOrchestrator(warm, buckets_per_group=s.warm_buckets)
        for bid, p in enumerate(self.warm_paths, start=1):
            orch.apply_batch(self.spark.read.parquet(p), bid)
        self.lookups(warm.lookup, self.warm_probes, "warmup")
        shutil.rmtree(warm_path)

        path = os.path.join(self.lake, "transcripts")
        self.table = bootstrap_table(self.spark, path, TRANSCRIPT_SCHEMA, num_buckets=s.buckets)
        self.orch = CdcOrchestrator(self.table, buckets_per_group=s.buckets)
        self.table_dirs = [path]
        t0 = time.perf_counter()
        self.orch.apply_batch(self.spark.read.parquet(self.th_path), 1)
        self.rec.values["th_s"] = time.perf_counter() - t0
        self.rec.values["th_events"] = len(self.th)

    def measure(self, before_ti=None):
        """The incremental batches as a backlog, all due when the phase
        starts; point lookups of just-written keys after each."""
        rec = self.rec
        if before_ti is not None:
            before_ti(self)
        due = time.perf_counter()
        for batch, path, probes in zip(self.ti, self.ti_paths, self.probes):
            with rec.op("apply"):
                (events,) = read_source(rec, lambda: (self.spark.read.parquet(path),))
                self.orch.apply_batch(events, batch.batch_id)
            rec.add("freshness", time.perf_counter() - due)
            self.lookups(self.table.lookup, probes, batch.batch_id)
        rec.values["ti_events"] = sum(len(b) for b in self.ti)

    def verify(self):
        from tpc_di_spark.cdc.apply import current_state

        replay = reference.Replay(["conv_id", "turn_idx"], TRANSCRIPT_REF_TYPES)
        for p in self.input_paths:
            replay.apply(reference.parquet_source(p))
        self.table.refresh()
        self.live_check("transcripts_live", current_state(self.table).toPandas(),
                        replay, TRANSCRIPT_COLS)
        hist = self.table.read(family="history").count()
        self.check("transcripts_history", hist == replay.history_rows,
                   engine_rows=hist, reference_rows=replay.history_rows)
        replay.close()


# ------------------------------------------------------------------ tail
@dataclass(frozen=True)
class TailSizes:
    convs: int = 400
    turns: int = 10
    text_repeat: int = 2
    batches: int = 3
    batch_events: int = 300
    new_convs: int = 5
    dim_updates: int = 20
    skew: float = 1.0
    interval_s: float = 8.0
    buckets: int = 4
    buckets_per_group: int = 2
    dim_buckets: int = 2
    auto_compact_files: int = 3
    replica_buckets: int = 4
    lookup_keys: int = 4
    warm_convs: int = 40
    warm_events: int = 100


class TailAudited(Workload):
    """Open-loop binlog tail with an audited warehouse and a merge-on-read
    serving replica.

    Batch k is due at t0 + k * interval whether or not batch k-1 is done.
    Each is a Debezium JSONL drop for ``transcripts`` and ``conversations``;
    one tick (a) publishes it atomically to both warehouse tables through
    write-audit-publish, ``transcripts`` on the grouped path with
    auto-compaction, audited for unique keys, non-NULL keys and a foreign
    key to ``conversations``, then looks up keys it just wrote; and (b)
    appends the transcript events to the serving replica as merge-on-read
    deltas. After the last tick the replica serves a point lookup of the
    last batch's keys and a live-state aggregate with every tick's delta
    folded in at read time, then compacts its deltas, and its changelog
    consumers (an ``IncrementalView`` and a ``DerivedTableSync``) catch
    up. Set-up warms the publish, tick and lookup paths on a throwaway
    warehouse before it times the initial publish."""

    name = "tail_audited"

    @staticmethod
    def default_sizes(seconds):
        return TailSizes(batches=max(3, math.ceil(seconds / TailSizes.interval_s)))

    def prepare(self):
        s, rng = self.sizes, self.rng
        th = inputs.historical(rng, s.convs, s.turns, s.text_repeat)
        dim = inputs.dim_batch(rng, 1, np.arange(s.convs), np.array([], dtype=np.int64))
        self.init_paths = (inputs.write_parquet(th, self.in_dir),
                           inputs.write_parquet(dim, self.in_dir, "conversations"))
        self.batches = []
        for k in range(s.batches):
            bid = k + 2
            n_conv = s.convs + (k + 1) * s.new_convs
            new = np.arange(n_conv - s.new_convs, n_conv)
            d = inputs.dim_batch(rng, bid, new, rng.integers(0, n_conv - s.new_convs, s.dim_updates))
            t = inputs.incremental(rng, bid, s.batch_events, 0, n_conv, s.turns, s.skew, s.text_repeat)
            self.batches.append((bid, inputs.write_debezium_transcripts(t, self.in_dir),
                                 inputs.write_debezium_dim(d, self.in_dir),
                                 probe_keys(rng, t, s.lookup_keys, 2)))
        self.input_paths = [*self.init_paths] + [p for _b, tp, dp, _k in self.batches for p in (tp, dp)]
        self.quarantine = []
        # the warm-up's own small initial load and tick, for throwaway tables
        warm_dir, n = os.path.join(self.root, "warmup-in"), s.warm_convs
        w_th = inputs.historical(rng, n, s.turns, s.text_repeat)
        w_dim = inputs.dim_batch(rng, 1, np.arange(n), np.array([], dtype=np.int64))
        w_t = inputs.incremental(rng, 2, s.warm_events, 0, n, s.turns, s.skew, s.text_repeat)
        w_d = inputs.dim_batch(rng, 2, np.array([], dtype=np.int64), rng.integers(0, n, s.dim_updates))
        self.warm_inputs = (inputs.write_parquet(w_th, warm_dir),
                            inputs.write_parquet(w_dim, warm_dir, "conversations"),
                            inputs.write_debezium_transcripts(w_t, warm_dir),
                            inputs.write_debezium_dim(w_d, warm_dir),
                            probe_keys(rng, w_t, s.lookup_keys, 1))

    def setup(self):
        from tpc_di_spark.cdc.orchestrator import CdcOrchestrator, bootstrap_table
        from tpc_di_spark.lake.derived import DerivedTableSync
        from tpc_di_spark.lake.incremental_view import IncrementalView
        from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA

        s = self.sizes
        # warm-up: a small initial publish, tick and lookup through a
        # throwaway warehouse, so the timed publishes run on compiled code
        warm_dir = os.path.join(self.root, "warmup")
        warm = self._warehouse(warm_dir)
        w_th, w_dim, w_t, w_d, w_probes = self.warm_inputs
        self._publish(warm, 1, self.spark.read.parquet(w_th), self.spark.read.parquet(w_dim))
        t_ev, _t_q, d_ev, _d_q = read_tick(self.spark, w_t, w_d)
        self._publish(warm, 2, t_ev, d_ev)
        self.lookups(warm.transcripts.refresh().lookup, w_probes, "warmup")
        shutil.rmtree(warm_dir)

        cat_dir = os.path.join(self.lake, "catalog")
        self.wh = self._warehouse(cat_dir)
        self.catalog, self.transcripts, self.dim = self.wh.catalog, self.wh.transcripts, self.wh.dim

        rep, child = os.path.join(self.lake, "replica"), os.path.join(self.lake, "assistant")
        self.replica = bootstrap_table(self.spark, rep, TRANSCRIPT_SCHEMA, num_buckets=s.replica_buckets)
        self.child = bootstrap_table(self.spark, child, child_schema(), num_buckets=s.replica_buckets)
        self.r_orch = CdcOrchestrator(self.replica, buckets_per_group=s.replica_buckets)
        self.view = IncrementalView(
            self.replica, os.path.join(self.root, "view"), key_cols=["role"],
            aggs=[("count_live", None, "live_turns"),
                  ("sum_live", "cast(length(text) as bigint)", "live_chars"),
                  ("max_created", "ts", "last_ts")],
        )
        self.sync = DerivedTableSync(
            self.replica, self.child, os.path.join(self.root, "sync"),
            filter_expr="role = 'assistant'",
            select_exprs={"role": "role", "n_chars": "cast(length(text) as bigint)"},
        )
        self.table_dirs = [cat_dir, rep, child]

        th = self.spark.read.parquet(self.init_paths[0])
        self.r_orch.apply_batch(th, 1)
        t0 = time.perf_counter()
        self._publish(self.wh, 1, th, self.spark.read.parquet(self.init_paths[1]))
        self.rec.values["th_s"] = time.perf_counter() - t0
        self.rec.values["th_events"] = s.convs * (2 * s.turns + 1)
        self.view.refresh().collect()
        self.sync.refresh()

    def _warehouse(self, cat_dir: str) -> SimpleNamespace:
        """A catalog holding ``transcripts`` and ``conversations``, with an
        orchestrator for each."""
        from tpc_di_spark.cdc.orchestrator import CdcOrchestrator
        from tpc_di_spark.lake import catalog
        from tpc_di_spark.lake.table import LakeTable
        from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA

        s = self.sizes
        cat = catalog.Catalog.create(self.spark, cat_dir)
        transcripts = LakeTable.create(self.spark, os.path.join(cat_dir, "transcripts"),
                                       TRANSCRIPT_SCHEMA, num_buckets=s.buckets)
        dim = LakeTable.create(self.spark, os.path.join(cat_dir, "conversations"),
                               dim_schema(), num_buckets=s.dim_buckets, key_cols=("conv_id",))
        cat.register("transcripts", transcripts)
        cat.register("conversations", dim)
        return SimpleNamespace(
            catalog=cat, transcripts=transcripts, dim=dim,
            t_orch=CdcOrchestrator(transcripts, buckets_per_group=s.buckets_per_group,
                                   auto_compact_files_per_bucket=s.auto_compact_files),
            d_orch=CdcOrchestrator(dim, buckets_per_group=s.dim_buckets))

    @staticmethod
    def _publish(wh, bid, t_events, d_events):
        from tpc_di_spark.lake import catalog, wap

        parent = (wh.dim.refresh().read(family="current").filter("is_current")
                  .select("conv_id")
                  .unionByName(d_events.filter("cdc_flag <> 'D'").select("conv_id")))
        checks = {"transcripts": [wap.unique_business_key(),
                                  wap.not_null(["conv_id", "turn_idx", "ts"]),
                                  wap.foreign_key(["conv_id"], parent)]}
        return catalog.apply_batch_atomic_wap(
            wh.catalog,
            {"transcripts": (wh.t_orch, t_events), "conversations": (wh.d_orch, d_events)},
            bid, audit_checks=checks,
        )

    def _tick(self, batch, due: float) -> None:
        from tpc_di_spark.cdc import mor

        bid, t_path, d_path, probes = batch
        rec = self.rec

        def read():
            t_ev, t_q, d_ev, d_q = read_tick(self.spark, t_path, d_path)
            self.quarantine += [t_q, d_q]
            return t_ev, d_ev

        with rec.op("apply"):
            t_ev, d_ev = read_source(rec, read)
            self._publish(self.wh, bid, t_ev, d_ev)
        rec.add("freshness", time.perf_counter() - due)
        self.transcripts.refresh()
        self.lookups(self.transcripts.lookup, probes[:1], bid)

        rec.values.setdefault("pending_deltas", []).append(
            len(mor.pending_delta_batches(self.replica.refresh())))
        with rec.op("mor_append"):
            mor.apply_batch_mor(self.r_orch, t_ev, bid)

    def measure(self, before_ti=None):
        from tpc_di_spark.cdc import mor

        rec, s = self.rec, self.sizes
        t0 = time.perf_counter()
        late = []
        for k, batch in enumerate(self.batches):
            due = t0 + k * s.interval_s
            wait = due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            late.append(max(0.0, time.perf_counter() - due))
            self._tick(batch, due)
        # the replica serves reads with every tick's delta still pending
        bid, _t, _d, probes = self.batches[-1]
        self.lookups(lambda keys: mor.lookup_mor(self.replica, keys), probes[1:], bid, "mor_lookup")
        with rec.op("live_scan"):
            mor.current_state_mor(self.replica).groupBy("role").count().collect()
        with rec.op("compact"):
            mor.compact_deltas(self.r_orch)
        snap = self.replica.refresh().snapshot
        rec.values["changelog_table_files"] = [
            sum(len(v) for fm in (snap.files, snap.hist_files) for v in fm.values())]
        with rec.op("view_refresh"):
            self.view.refresh().collect()
        with rec.op("derived_refresh"):
            self.sync.refresh()
        rec.values["ti_events"] = s.batches * s.batch_events
        rec.values["schedule_late_max_s"] = max(late)

    def verify(self):
        from pyspark.sql import DataFrame
        from tpc_di_spark.cdc.apply import current_state

        t_ref = reference.Replay(["conv_id", "turn_idx"], TRANSCRIPT_REF_TYPES)
        d_ref = reference.Replay(["conv_id"], DIM_REF_TYPES)
        t_ref.apply(reference.parquet_source(self.init_paths[0]))
        d_ref.apply(reference.parquet_source(self.init_paths[1]))
        t_img = {c: t for c, t in TRANSCRIPT_REF_TYPES.items() if c not in ("tool", "ts")}
        d_img = {c: t for c, t in DIM_REF_TYPES.items() if c != "ts"}
        for _bid, t_path, d_path, _k in self.batches:
            t_ref.apply(reference.debezium_source(t_path, t_img))
            d_ref.apply(reference.debezium_source(d_path, d_img))
        for name, table, ref, cols in (("transcripts", self.transcripts, t_ref, TRANSCRIPT_COLS),
                                       ("conversations", self.dim, d_ref, DIM_COLS),
                                       ("replica", self.replica, t_ref, TRANSCRIPT_COLS)):
            table.refresh()
            self.live_check(f"{name}_live", current_state(table).toPandas(), ref, cols)
        for name, table in (("transcripts", self.transcripts), ("replica", self.replica)):
            hist = table.read(family="history").count()
            self.check(f"{name}_history", hist == t_ref.history_rows,
                       engine_rows=hist, reference_rows=t_ref.history_rows)
        published = {n: self.catalog.refresh().table(n).snapshot_id
                     for n in ("transcripts", "conversations")}
        self.check("catalog_published",
                   published == {"transcripts": self.transcripts.snapshot.snapshot_id,
                                 "conversations": self.dim.snapshot.snapshot_id},
                   **published)
        quarantined = functools.reduce(DataFrame.unionByName, self.quarantine).count()
        self.rec.values["quarantined"] = quarantined
        self.check("quarantined", quarantined == 2 * len(self.batches), rows=quarantined)
        view = self.view.state().toPandas()
        live = t_ref.live_count()
        self.check("view_live_turns", int(view["live_turns"].sum()) == live,
                   engine=int(view["live_turns"].sum()), reference=live)
        child = current_state(self.child.refresh()).count()
        want = t_ref.live_count("role = 'assistant'")
        self.check("derived_live_rows", child == want, engine_rows=child, reference_rows=want)
        t_ref.close()
        d_ref.close()


def read_tick(spark, t_path: str, d_path: str):
    """One tick's Debezium drop: (transcript events, their quarantine, dim
    events, their quarantine)."""
    from pyspark.sql.types import StructType
    from tpc_di_spark.schemas import TRANSCRIPT_DATA_FIELDS
    from tpc_di_spark.sources.debezium import read_debezium_json

    t_ev, t_q = read_debezium_json(spark, t_path, StructType(TRANSCRIPT_DATA_FIELDS))
    d_ev, d_q = read_debezium_json(spark, d_path, dim_data_schema())
    return t_ev, t_q, d_ev, d_q


def dim_data_schema():
    from pyspark.sql.types import StringType, StructField, StructType, TimestampType

    return StructType([
        StructField("conv_id", StringType(), False),
        StructField("owner", StringType(), True),
        StructField("status", StringType(), True),
        StructField("ts", TimestampType(), True),
    ])


def dim_schema():
    from pyspark.sql.types import StructType
    from tpc_di_spark.schemas import LINEAGE_FIELDS

    return StructType(dim_data_schema().fields + LINEAGE_FIELDS)


def child_schema():
    from pyspark.sql.types import (IntegerType, LongType, StringType, StructField,
                                   StructType, TimestampType)
    from tpc_di_spark.schemas import LINEAGE_FIELDS

    return StructType([
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), True),
        StructField("n_chars", LongType(), True),
        StructField("ts", TimestampType(), True),
        *LINEAGE_FIELDS,
    ])


WORKLOADS = {w.name: w for w in (ReplayBulk, TailAudited)}
