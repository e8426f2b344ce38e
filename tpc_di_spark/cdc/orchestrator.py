"""Batch orchestrator: exactly-once CDC apply with mid-batch resume.

Replaces the reference's AWS Step Functions chain (report §4.2-4.3) with a
deterministic local protocol:

1. **Exactly-once**: each LakeTable snapshot records its committed batch
   ids; re-applying a committed batch is a no-op. The snapshot flip is the
   single atomic commit point — a crash anywhere before it leaves the old
   table state fully live (the reference's per-row INSERT stream has no
   such property; a killed Lambda leaves half a batch applied,
   `Incremental1/IncrementalAccount.py:218-343`).

2. **Mid-batch resume via per-partition-group checkpoint manifests**: the
   touched buckets are split into groups; each group's merge output is
   written to a *deterministic* path and sealed with a ``.done`` manifest
   (file list + per-bucket row counts = partition lineage). A resumed run
   skips sealed groups, recomputes unsealed ones (their partial output is
   overwritten — deterministic tags make this idempotent), then performs
   the one atomic snapshot commit. ``buckets_per_group >= num_buckets``
   is one whole-table group: no bucket-discovery job, whole-batch resume.

3. **Schema evolution**: a batch carrying new payload columns triggers a
   transactional evolve-then-apply (metadata-only schema commit, then the
   merge), per north_rule.

4. **Observability**: one commit-and-record step, shared by every apply
   path, writes a JSON record per batch (row counts, per-bucket lineage,
   wall time, snapshot id) to ``_metrics/``.

5. **Ordering repair**: ``apply_snapshot_batch`` folds late initial-
   snapshot chunks under tail deletes (DBLog rule); ``apply_late_batch``
   applies a missed batch after higher-numbered ones under the
   supersession rule — final current state is arrival-order independent.
"""

from __future__ import annotations

import copy
import json
import operator
import os
import time
from functools import reduce
from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType

from tpc_di_spark.cdc.apply import (
    ENVELOPE_COLS,
    align_events,
    data_cols,
    insert_only_rows,
    lww_dedup,
    merge_batch_rows,
)
from tpc_di_spark.cdc.mor import pending_delta_batches
from tpc_di_spark.lake.changelog import (
    _closing_batch_of,
    changed_keys_since,
    rows_closed_in,
    rows_created_in,
)
from tpc_di_spark.lake.table import CommitConflict, LakeTable

_STAGING = "_staging"
_METRICS = "_metrics"


class CdcOrchestrator:
    def __init__(
        self,
        table: LakeTable,
        buckets_per_group: int = 8,
        count_input: bool = True,
        messages_log=None,
        auto_compact_files_per_bucket: int = 0,
        null_key_policy: str = "error",
        eager_accounting: bool = False,
    ):
        self.table = table
        self.spark = table.spark
        # Touched buckets merge in groups of this many, each sealed by a
        # resume manifest; >= num_buckets is one whole-table group with
        # no discovery job and whole-batch resume.
        self.buckets_per_group = buckets_per_group
        # count_input=False skips the pre-dedup events.count() (a full
        # extra pass over the source); metrics then report the post-LWW
        # count as events_in=None. Used by throughput benches.
        self.count_input = count_input
        # Optional plans.messages.MessagesLog: one queryable DImessages
        # status row per applied batch (the reference's "Status: Inserted
        # rows" insert, `Historical/prospect.py:158-163`). Opt-in — the
        # metrics JSON remains the zero-extra-job default.
        self.messages_log = messages_log
        # NULL-business-key events are upstream garbage: an equi-join
        # merge can never match them again, so once written they are
        # unreachable junk rows (and pre-round-6 they silently VANISHED
        # from the merge — the presence-marker fix in cdc/apply.py makes
        # them visible instead). Policy: "error" (default) fails the
        # batch when any key column is NULL — checked inside the same
        # job as the input count, so it costs nothing extra; with
        # count_input=False the check is documented-skipped along with
        # the count (the bench's zero-extra-job contract). "drop"
        # filters them out free-of-charge in the same scan and reports
        # events_null_key in the metrics.
        if null_key_policy not in ("error", "drop"):
            raise ValueError(f"unknown null_key_policy {null_key_policy!r}")
        self.null_key_policy = null_key_policy
        # Opt-in compaction policy: after each committed batch, buckets
        # whose TOTAL file count (current + history) exceeds this are
        # rewritten by lake.maintenance.compact. The history family is
        # append-only, so every batch adds one hist file per touched
        # bucket — without a policy, file count grows linearly with batch
        # count and the scan's file-open overhead with it. 0 disables
        # (callers schedule compaction themselves, like the bench).
        self.auto_compact_files_per_bucket = auto_compact_files_per_bucket
        # foreachBatch micro-batch plans break CollectMetrics (the stream
        # execution thread stack-overflows re-planning the observed
        # node), so streaming drivers opt into the eager one-job input
        # accounting (streaming/stream_apply.py) instead of the lazy
        # Observation.
        self.eager_accounting = eager_accounting

    def for_table(self, table: LakeTable) -> "CdcOrchestrator":
        """Same configuration over a different table handle — the WAP
        staging pattern (drive a branch handle through an orchestrator
        configured like the main one)."""
        clone = copy.copy(self)
        clone.table, clone.spark = table, table.spark
        return clone

    def _account_input(self, events: DataFrame, batch_id: int, lazy: bool = False):
        """Input accounting: ``(events, counts)``, "drop" filter applied.
        Eager (default): ``counts`` is (n_events, n_null_key) from AT MOST
        one job — for the snapshot handover, whose ``limit(1).count()``
        guard would corrupt a lazy Observation (a limit can stop before
        scanning every row, so observed metrics undercount), and for
        streaming drivers (``eager_accounting``). ``lazy=True``, the hot
        apply path: ``counts`` is an Observation computed INSIDE the job
        that first materializes the batch (bucket-count job or single-
        group merge write) instead of a dedicated pass over the source —
        at sf0.1 that pass was ~40% of a batch's wall time. Resolve it
        with :meth:`_resolve_accounting`. The "drop" filter sits ABOVE the
        observation, so events_in is the pre-drop total. count_input=False
        counts nothing, and skips the "error" check: (None, None)."""
        key_null = reduce(operator.or_, (F.col(k).isNull() for k in self.table.key_cols))
        aggs = (
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(key_null.cast("long")), F.lit(0)).alias("nn"),
        )
        counts = (None, None)
        if self.count_input and lazy:
            from pyspark.sql import Observation

            counts = Observation()
            events = events.observe(counts, *aggs)
        elif self.count_input:
            row = events.agg(*aggs).collect()[0]
            counts = (row["n"], row["nn"])
            self._check_null_policy(row["nn"], batch_id)
        if self.null_key_policy == "drop":
            events = events.filter(~key_null)
        return events, counts

    def _resolve_accounting(self, counts, batch_id: int, ensure: DataFrame | None = None):
        """(n_events, n_null_key) from :meth:`_account_input`'s ``counts``.
        A lazy Observation is read after an action materialized the
        observed plan; ``ensure`` forces a materializing action first —
        only a resumed single-group apply needs it (its manifest made the
        write a no-op, so no job ran over the events). Enforces the same
        null_key_policy='error' contract as the eager path: the batch
        still fails BEFORE its atomic commit, so no bad state becomes
        visible (the error surfaces after the merge compute instead of
        before it)."""
        if isinstance(counts, tuple):  # eager, or not counted
            return counts
        if ensure is not None:
            ensure.count()
        row = counts.get
        self._check_null_policy(row["nn"], batch_id)
        return row["n"], row["nn"]

    def _check_null_policy(self, n_null, batch_id: int) -> None:
        if n_null and self.null_key_policy == "error":
            raise ValueError(
                f"batch {batch_id}: {n_null} events carry NULL business-"
                f"key columns ({list(self.table.key_cols)}) — upstream "
                "garbage an equi-join merge can never match again. Fix "
                "the source, or construct the orchestrator with "
                "null_key_policy='drop' to filter and count them."
            )

    # ------------------------------------------------------------ utilities
    def _staging_dir(self, batch_id: int) -> str:
        return os.path.join(self.table.path, _STAGING, f"batch-{batch_id:06d}")

    def _metrics_path(self, batch_id: int) -> str:
        return os.path.join(self.table.path, _METRICS, f"batch-{batch_id:06d}.json")

    def _geometry(self, group_buckets: list | None) -> dict:
        """Group geometry stamped into every checkpoint manifest. A batch
        killed mid-apply and resumed under a different geometry (e.g.
        grouped -> single-group) must NOT reuse a manifest that covers only
        part of the new group's buckets — the resume would silently drop
        every bucket absent from the stale manifest."""
        return {
            "buckets_per_group": self.buckets_per_group,
            "num_buckets": self.table.num_buckets,
            "group_buckets": group_buckets,  # None = whole-table single group
        }

    def _sealed_manifest(self, path: str, geometry: dict) -> dict | None:
        """A group's checkpoint manifest, if it was sealed under this
        geometry and every file it lists still exists; else None."""
        if not self.table.fs.exists(path):
            return None
        manifest = json.loads(self.table.fs.read_text(path))
        valid = manifest.get("geometry") == geometry and all(
            self.table.fs.exists(os.path.join(self.table.path, rel))
            for fmap in (manifest["files"], manifest.get("hist_files", {}))
            for fl in fmap.values()
            for rel in fl
        )
        return manifest if valid else None

    def _lineage_rows(
        self, files: dict[str, list[str]], hist_delta: dict[str, list[str]]
    ) -> tuple[dict[str, int], dict[str, list]]:
        """Per-bucket rows written this batch AND per-file batch_id
        [min, max] ranges (the changelog data-skipping stats), from
        parquet footers — driver-side metadata, no Spark job. Footer
        reads are independent ranged GETs, so they run on a thread pool:
        the serial loop was a per-batch driver cost that did not shrink
        with executor count (the family split doubled the file count and
        made it visible)."""
        from concurrent.futures import ThreadPoolExecutor

        paths = [
            (b, rel) for fmap in (files, hist_delta) for b, fl in fmap.items() for rel in fl
        ]

        def meta(rel: str):
            full = os.path.join(self.table.path, rel)
            return (
                self.table.fs.parquet_num_rows(full),
                self.table.fs.parquet_column_minmax(full, "batch_id"),
            )

        rows: dict[str, int] = {}
        stats: dict[str, list] = {}
        with ThreadPoolExecutor(max_workers=16) as pool:
            footers = pool.map(meta, [rel for _b, rel in paths])
            for (b, rel), (n, mm) in zip(paths, footers):
                rows[b] = rows.get(b, 0) + n
                if mm is not None:
                    stats[rel] = mm
        return rows, stats

    def _maybe_auto_compact(self, record: dict) -> None:
        """Post-commit compaction policy (see __init__): bounds per-bucket
        file counts under the append-only history family. Runs OUTSIDE the
        batch's atomic commit — a crash here loses nothing (the batch is
        already durable; compaction is its own snapshot and re-triggers
        next batch)."""
        if self.auto_compact_files_per_bucket <= 0:
            return
        from tpc_di_spark.lake.maintenance import compact

        stats = compact(
            self.table, max_files_per_bucket=self.auto_compact_files_per_bucket
        )
        if stats["compacted_buckets"]:
            record["auto_compact"] = stats
        # On indexed tables the same policy bounds SIDECAR count: each
        # commit adds one, and probe-time metadata loads are O(sidecars).
        # Consolidation is metadata-only (no data moves), so riding the
        # compaction trigger keeps both file and sidecar growth bounded
        # by one knob.
        if self.table.snapshot.properties.get("index.bloom.column"):
            from tpc_di_spark.lake.maintenance import consolidate_blooms

            try:
                brec = consolidate_blooms(
                    self.table, max_sidecars=max(self.auto_compact_files_per_bucket, 4)
                )
            except CommitConflict:
                # Opportunistic maintenance racing a duelling writer: the
                # BATCH already committed, so surfacing the conflict here
                # would make a successful apply look failed to callers
                # (aborting run_replay mid-run). Record and move on — the
                # next batch's trigger retries consolidation.
                record["auto_consolidate_blooms"] = {"skipped": "commit-conflict"}
                return
            if brec.get("consolidated"):
                record["auto_consolidate_blooms"] = brec

    def _maybe_evolve(self, events: DataFrame, batch_id: int) -> None:
        """Transactional evolve-then-apply: add payload columns the batch
        introduces (e.g. ``tool``) before touching any data."""
        known = set(data_cols(self.table)) | set(ENVELOPE_COLS)
        new_fields = [f for f in events.schema.fields if f.name not in known]
        if not new_fields:
            return
        old = self.table.schema
        # Insert new payload columns before the lineage block, keeping a
        # stable human-readable order.
        lineage = [f for f in old.fields if f.name in ("is_current", "effective_ts", "end_ts", "batch_id")]
        payload = [f for f in old.fields if f not in lineage]
        evolved = StructType(
            payload + [StructField(f.name, f.dataType, True) for f in new_fields] + lineage
        )
        self.table.evolve_schema(evolved)

    # ------------------------------------------------------------ main apply
    def apply_batch(self, events: DataFrame, batch_id: int, retries: int = 2) -> dict:
        """Apply one CDC batch exactly once, with optimistic-concurrency
        retry: a :class:`CommitConflict` means another writer advanced the
        table between this apply's snapshot read and its commit CAS, so
        the staged merge (computed against the stale snapshot) is
        discarded and the whole apply recomputes against the new state —
        the Iceberg commit-retry rule, which a CoW merge needs in full
        (its output depends on the target rows, so nothing staged is
        salvageable). The re-run's ``is_batch_committed`` check also
        resolves the duelling-driver case where the competing writer
        committed THIS batch id. Bounded (default 2 re-computations) so
        livelock surfaces as the underlying conflict."""
        return self._retry_conflicts(
            lambda: self._apply_batch_once(events, batch_id), batch_id, retries
        )

    def _retry_conflicts(self, attempt, batch_id: int, retries: int) -> dict:
        """Run ``attempt``; on :class:`CommitConflict` drop its staging
        manifests, refresh, and run it again, at most ``retries`` times."""
        while True:
            try:
                return attempt()
            except CommitConflict:
                if retries <= 0:
                    raise
                retries -= 1
                staging = self._staging_dir(batch_id)
                if self.table.fs.exists(staging):
                    self.table.fs.rmtree(staging)
                self.table.refresh()

    def _begin(self, batch_id: int, out_of_order: str | None = None) -> dict | None:
        """Shared entry of every apply: validate the id, read the latest
        snapshot, and return the skip record if the batch already
        committed (exactly-once), else None. ``out_of_order`` names an
        apply that finds its keys through ``changed_keys_since`` (late
        batch, snapshot chunk): that reads DATA files, so keys touched
        only in uncompacted MoR deltas are invisible to it and applying
        now could resurrect a delta-deleted key — refused."""
        if batch_id <= 0:
            # Negative batch ids are the delete-tombstone marker
            # (cdc/apply.py) — real batches must stay strictly positive.
            raise ValueError(f"batch_id must be >= 1, got {batch_id}")
        self.table.refresh()
        if self.table.is_batch_committed(batch_id):
            return {"batch_id": batch_id, "skipped": "already-committed"}
        if out_of_order and pending_delta_batches(self.table):
            raise ValueError(
                "pending MoR delta batches exist — compact them before "
                f"applying {out_of_order} (their touched keys are not yet "
                "visible to changed_keys_since)"
            )
        return None

    def _apply_batch_once(
        self, events: DataFrame, batch_id: int, t0: float | None = None, extra: dict | None = None
    ) -> dict:
        """One optimistic attempt of :meth:`apply_batch`. ``t0`` and
        ``extra`` let :meth:`apply_late_batch` time the whole repair and
        add its own fields to the one record this writes."""
        t0 = time.monotonic() if t0 is None else t0
        if skipped := self._begin(batch_id):
            return skipped

        self._maybe_evolve(events, batch_id)
        events = align_events(events, self.table)
        events, counts = self._account_input(
            events, batch_id, lazy=not self.eager_accounting
        )

        # ONE exchange for the whole batch: repartition the events to the
        # table's bucket layout BEFORE the LWW groupBy. The groupBy's
        # ClusteredDistribution(key) is satisfied by that partitioning
        # (no aggregate exchange), the merge join against the bucketed
        # target scan is satisfied by it (no join exchange), and the
        # family-split write is bucket-co-located by it (no write
        # exchange). Trade: the LWW fold loses its pre-shuffle partial
        # combine, so a key duplicated k times in one batch ships k rows
        # instead of O(partitions) — CDC batches carry ~1-2 events/key,
        # and the hot-CONVERSATION skew story is unchanged (full-key
        # bucketing spreads a hot conversation's turns over all buckets).
        deduped = self.table.with_bucket(
            lww_dedup(self.table.bucket_partitioned(events), self.table.key_cols)
        )

        # Single-group mode is ONE group whose buckets are None — the
        # whole current family, merged in one pass (generation -> dedup
        # shuffle -> merge join -> write) with no touched-bucket discovery
        # job and no persist. Right when batches touch most buckets anyway
        # (bulk replays, benches); bucket-pruned multi-group mode remains
        # the default for sparse batches.
        single = self.buckets_per_group >= self.table.num_buckets
        groups: list[list | None] = [None]
        staging = self._staging_dir(batch_id)
        all_files: dict[str, list[str]] = {}
        all_hist: dict[str, list[str]] = {}
        all_stats: dict[str, list] = {}
        group_metrics = []
        try:
            if not single:
                # Persist BEFORE the bucket-count job so that ONE pass
                # computes the dedup DAG: the count materializes the cache
                # and every group's merge reads from it (for changelog-
                # derived batches that DAG is itself joins over the parent
                # table). At cluster scale this caches the batch (<=
                # events), never the table.
                deduped.persist()
                # One job yields both the touched-bucket set and per-bucket
                # event counts (metadata-sized collect: <= num_buckets rows).
                bucket_counts = dict(deduped.groupBy(LakeTable.BUCKET_COL).count().collect())
                # That job materialized the observed events, so the input
                # accounting resolves here at zero extra cost — and the
                # null_key_policy='error' check still fires BEFORE any write.
                n_events, n_null = self._resolve_accounting(counts, batch_id)
                touched = sorted(bucket_counts)
                groups = [
                    touched[i : i + self.buckets_per_group]
                    for i in range(0, len(touched), self.buckets_per_group)
                ]
            self.table.fs.makedirs(staging)
            for gi, buckets in enumerate(groups):
                manifest_path = os.path.join(staging, f"group-{gi:03d}.done.json")
                geometry = self._geometry(buckets)
                if manifest := self._sealed_manifest(manifest_path, geometry):
                    manifest["metrics"]["resumed"] = True
                else:
                    g0 = time.monotonic()
                    src = deduped
                    if buckets is not None:
                        src = src.filter(F.col(LakeTable.BUCKET_COL).isin(buckets))
                    files, hist_delta, lineage_rows, fstats = self._merge_write(
                        src.drop(LakeTable.BUCKET_COL), batch_id, buckets,
                        f"batch-{batch_id:06d}/group-{gi:03d}",
                    )
                    manifest = {
                        "files": files,
                        "hist_files": hist_delta,
                        "file_stats": fstats,
                        "metrics": {
                            "group": gi,
                            "buckets": (
                                sorted(int(b) for b in set(files) | set(hist_delta))
                                if buckets is None else buckets
                            ),
                            "events": (
                                None if buckets is None
                                else sum(bucket_counts[b] for b in buckets)
                            ),
                            "rows_written": lineage_rows,
                            "secs": round(time.monotonic() - g0, 3),
                        },
                        "geometry": geometry,
                    }
                    self.table.fs.replace_text(manifest_path, json.dumps(manifest))
                all_files.update(manifest["files"])
                for b, fl in manifest.get("hist_files", {}).items():
                    all_hist.setdefault(b, []).extend(fl)
                all_stats.update(manifest.get("file_stats", {}))
                group_metrics.append(manifest["metrics"])
        finally:
            deduped.unpersist(blocking=False)

        if single:
            # The write above (or, on resume, a forced pass — the manifest
            # made the write a no-op, so nothing materialized the events
            # yet) resolves the lazy accounting; the error policy still
            # fires before the commit below, so no bad state becomes
            # visible.
            n_events, n_null = self._resolve_accounting(
                counts, batch_id,
                ensure=events if group_metrics[0].get("resumed") else None,
            )
            # Every pre-existing CURRENT-family bucket was merged (and may
            # have lost all its rows to deletes), so the replaced set is
            # old ∪ new current buckets; history is append-only.
            replaced = set(self.table.snapshot.files) | set(all_files)
        else:
            replaced = touched
        return self._commit_and_record(
            batch_id, t0,
            {
                "new_files_by_bucket": all_files,
                "mode": "replace",
                "replaced_buckets": replaced,
                "append_hist_by_bucket": all_hist,
                "new_file_stats": all_stats,
                "summary": {"operation": "cdc-apply", "events": n_events},
            },
            {
                "events_in": n_events,
                "events_null_key": n_null,
                "events_after_lww": None if single else sum(g["events"] for g in group_metrics),
                "buckets_touched": len(replaced),
                "groups": group_metrics,
                **(extra or {}),
            },
            staging=staging,
        )

    def _merge_write(
        self, src: DataFrame, batch_id: int, buckets: list | None, tag: str
    ) -> tuple[dict, dict, dict[str, int], dict[str, list]]:
        """Merge deduped events (no bucket column) into the current family
        of ``buckets`` (None = every bucket) and write the family split.
        Returns (current files, history files, per-bucket rows written,
        per-file batch_id stats)."""
        # Only the CURRENT file family joins the merge: history files are
        # immutable closed versions the merge can never touch — skipping
        # them halves-or-better the per-batch scan as history accumulates.
        # read_bucketed exposes the buckets as a catalog bucketed scan so
        # the merge join adds no Exchange above the table side. No current
        # rows (historical load / bootstrap): insert-only projection.
        if any(
            fl for b, fl in self.table.snapshot.files.items()
            if buckets is None or int(b) in buckets
        ):
            tgt, aligned = self.table.read_bucketed(family="current", buckets=buckets)
            merged = merge_batch_rows(tgt, src, batch_id, self.table)
        else:
            merged = insert_only_rows(src, batch_id, self.table)
            aligned = self.table.spark_aligned
        files, hist_delta = self.table.write_data_files_split(
            self.table.with_bucket(merged), tag,
            # Skip the write exchange only when the merge inputs really
            # were in the bucket layout (bucketed scan + bucket_partitioned
            # events, or an insert-only projection of the bucket-
            # partitioned batch). When read_bucketed fell back to a plain
            # scan the join output's layout is the planner's choice —
            # cluster it, or the partitionBy write can emit partitions x
            # buckets small files. See LakeTable._bucket_clustered.
            assume_bucket_partitioned=aligned,
        )
        return (files, hist_delta, *self._lineage_rows(files, hist_delta))

    def _commit_and_record(
        self, batch_id: int, t0: float, commit: dict, fields: dict, staging: str | None = None
    ) -> dict:
        """The atomic snapshot commit of an apply plus its record: commit
        ``commit`` (LakeTable.commit arguments) under ``batch_id``, drop
        the staging manifests, then build the record from ``fields``, run
        the post-commit compaction policy, write ``_metrics/`` and emit
        the status row."""
        before = self.table.snapshot.snapshot_id
        snap = self.table.commit(batch_id=batch_id, **commit)
        if staging is not None:
            # The staging manifests memoize only THIS attempt's output.
            self.table.fs.rmtree(staging)
        if snap.snapshot_id == before:
            # commit() hit its exactly-once guard without flipping: a
            # duelling driver landed this batch id first. Our salted-
            # attempt files are unreferenced (expire-swept).
            return {"batch_id": batch_id, "skipped": "already-committed"}
        elapsed = time.monotonic() - t0
        n = fields.get("events_in") or fields.get("events_after_lww")
        record = {
            "batch_id": batch_id,
            "snapshot_id": snap.snapshot_id,
            **fields,
            "secs": round(elapsed, 3),
            "events_per_sec": round(n / elapsed, 1) if n and elapsed > 0 else None,
        }
        self._maybe_auto_compact(record)
        self.table.fs.makedirs(os.path.dirname(self._metrics_path(batch_id)))
        self.table.fs.replace_text(self._metrics_path(batch_id), json.dumps(record))
        self._emit_status(record)
        return record

    # ------------------------------------------------- snapshot handover
    def apply_snapshot_batch(
        self, events: DataFrame, batch_id: int, tail_start_batch: int = 0
    ) -> dict:
        """Apply one initial-/incremental-snapshot chunk (Debezium
        ``op='r'``) that may arrive AFTER tail batches were already
        applied — the CDC bootstrap-handover problem.

        The reference sidesteps handover by strict sequencing (the
        historical load completes before Batch2 starts, report §4.3);
        a real binlog consumer cannot: connectors emit snapshot chunks
        interleaved with the WAL tail (Debezium incremental snapshots /
        Netflix DBLog watermark windows), and this engine's cross-batch
        ordering is batch-id-first, so pushing a late point-in-time read
        through ``apply_batch`` would clobber newer tail rows and
        resurrect tail-deleted keys. Instead a snapshot chunk applies as
        MERGE WHEN NOT MATCHED **insert-if-absent**:

        - keys the tail touched since the handover watermark
          (``changed_keys_since(tail_start_batch)`` — created OR closed,
          so tail deletes are honored, INCLUDING deletes that matched no
          row yet: those leave ``batch_id = -batch`` tombstones, see
          ``cdc/apply.py``) are dropped: the DBLog chunk-vs-window dedup
          rule, resolved consumer-side;
        - keys already live in the table (pre-existing rows, overlapping
          or re-delivered chunks) are dropped: a point-in-time read
          never creates a new SCD2 version;
        - the remainder inserts as new current rows via the normal
          family-split write + exactly-once snapshot commit.

        One-shot bootstrap path: the two anti-joins cost one scan of the
        tail-touched keys (file-skipped, O(changed since watermark)) and
        one column-pruned scan of live keys — acceptable at handover
        time, not a steady-state cost. ``tail_start_batch`` is the
        batch watermark recorded when the snapshot read began (0 for a
        table born at handover).
        """
        t0 = time.monotonic()
        if skipped := self._begin(batch_id, out_of_order="a snapshot chunk"):
            return skipped
        self._maybe_evolve(events, batch_id)
        events = align_events(events, self.table)
        events, (n_events, n_null) = self._account_input(events, batch_id)
        # A snapshot is a set of point-in-time READS — 'D' cannot occur.
        # Its presence means tail events were routed into the snapshot
        # path, where their deletes would be silently ignored: refuse.
        if events.filter(F.col("cdc_flag") == F.lit("D")).limit(1).count():
            raise ValueError(
                "snapshot batch contains 'D' events — deletes belong on "
                "the tail path (apply_batch); routing them here would "
                "silently drop them"
            )
        deduped = lww_dedup(
            self.table.bucket_partitioned(events), self.table.key_cols
        )
        key = list(self.table.key_cols)
        touched = changed_keys_since(self.table, tail_start_batch)
        src = deduped.join(touched.select(*key), on=key, how="left_anti")
        if self.table.snapshot.files:
            live = (
                self.table.read(family="current")
                .filter(F.col("is_current"))
                .select(*key)
            )
            src = src.join(live, on=key, how="left_anti")
        rows = insert_only_rows(src.drop(LakeTable.BUCKET_COL), batch_id, self.table)
        tag = f"batch-{batch_id:06d}/snapshot"
        # assume_bucket_partitioned=False: the anti-joins' output layout
        # is the planner's choice — let the write re-cluster the (small)
        # surviving insert set.
        files, _hist = self.table.write_data_files_split(
            self.table.with_bucket(rows), tag
        )
        lineage_rows, fstats = self._lineage_rows(files, {})
        inserted = sum(lineage_rows.values())
        return self._commit_and_record(
            batch_id, t0,
            {
                "new_files_by_bucket": files,
                "mode": "append",
                "new_file_stats": fstats,
                "summary": {
                    "operation": "snapshot-handover",
                    "events": n_events,
                    "tail_start_batch": tail_start_batch,
                },
            },
            {
                "events_in": n_events,
                "events_null_key": n_null,
                "rows_inserted": inserted,
                "rows_dropped_stale_or_present": (
                    (n_events - inserted) if n_events is not None else None
                ),
                "buckets_touched": len(files),
                "tail_start_batch": tail_start_batch,
            },
        )

    def apply_late_batch(
        self,
        events: DataFrame,
        batch_id: int,
        quarantine_dir: str | None = None,
        retries: int = 2,
    ) -> dict:
        """Apply a MISSED batch that arrives after higher-numbered batches
        already committed — out-of-order tail repair (a redelivered WAL
        segment, a stalled connector partition catching up).

        The engine's cross-batch logical order is batch-id-first
        (``apply_batch`` expires whatever is current), so pushing a late
        batch through the normal path would clobber newer rows and
        resurrect newer deletes. Instead the late batch is applied under
        the supersession rule that makes the FINAL CURRENT STATE
        independent of arrival order:

        - events whose key was changed by ANY batch with id > this one
          (``changed_keys_since(table, batch_id)`` — created or closed,
          tombstones included, so newer deletes are honored) are
          **superseded**: dropped from the merge, counted, and optionally
          written to ``quarantine_dir/batch-NNNNNN`` for audit;
        - the remainder merges through the normal exactly-once apply
          (its keys were last touched by batches < this one, so batch-id
          order and arrival order agree for them).

        Equivalence: serial replay 1..N gives each key the LWW winner of
        the highest batch touching it; the anti-join reproduces exactly
        that partition of the late batch's keys. SCD2 *history* records
        arrival order (the missed batch's versions splice in at apply
        time, marked by their own batch id); the current family matches
        serial replay row-for-row. Cross-batch ``ts`` ties inside one key
        resolve to the higher batch id, same as serial replay.

        Cost: one file-skipped scan of the keys changed since this batch
        id (O(changed), the q47 changelog path) + one O(batch) broadcast-
        or-shuffle anti-join, on top of the normal merge. Late repair is
        an exception path, not steady state. Same MoR-delta guard as the
        snapshot handover: pending deltas hide touched keys from
        ``changed_keys_since``, so compaction must run first.
        """
        return self._retry_conflicts(
            # A concurrent commit landing between the changed-keys read
            # and the merge CAS makes the supersession set itself stale
            # (the new batch may outrank this one), so the WHOLE late
            # apply recomputes, not just the merge.
            lambda: self._apply_late_once(events, batch_id, quarantine_dir),
            batch_id, retries,
        )

    def _apply_late_once(
        self, events: DataFrame, batch_id: int, quarantine_dir: str | None
    ) -> dict:
        t0 = time.monotonic()
        if skipped := self._begin(batch_id, out_of_order="a late batch"):
            return skipped
        self._maybe_evolve(events, batch_id)
        events = align_events(events, self.table)
        touched = self._superseded_keys(batch_id)
        marked = events.join(
            touched.withColumn("_superseded", F.lit(True)),
            on=list(self.table.key_cols), how="left",
        )
        marked.persist()
        try:
            stale = marked.filter(F.col("_superseded")).drop("_superseded")
            n_stale = stale.count()
            if quarantine_dir and n_stale:
                stale.write.mode("overwrite").parquet(
                    os.path.join(quarantine_dir, f"batch-{batch_id:06d}")
                )
            fresh = marked.filter(F.col("_superseded").isNull()).drop("_superseded")
            return self._apply_batch_once(
                fresh, batch_id, t0=t0,
                extra={"late_apply": True, "events_dropped_superseded": n_stale},
            )
        finally:
            marked.unpersist(blocking=False)

    def _superseded_keys(self, batch_id: int) -> DataFrame:
        """EXACT set of keys changed by batches with id > ``batch_id``.

        `changed_keys_since` is the fast path, but it OVER-approximates
        once a compaction/rebucket erased closing tags ("closing batch
        unknown" files are included) — safe for consumers that merely
        re-pull extra keys, WRONG here where membership DROPS the late
        batch's events (over-approximation = data loss). When such a
        rewrite exists anywhere in retained history, rebuild the set
        per-batch instead: created keys from row-level batch_id (exact
        across compaction) plus closed keys from each batch's committing
        snapshot (time travel; ``strict=True`` raises when retention has
        expired it — a missed close would resurrect a newer delete, so
        "repair window passed" must be an error, not a silent wrong
        answer)."""
        key = list(self.table.key_cols)
        # Gate the fast path STRUCTURALLY, not via retained snapshot
        # history: a compaction erases closing tags from the files it
        # rewrites, and once expire_snapshots drops the compaction
        # snapshot the history-based trigger goes blind — the fast path
        # would then include unknown-closing-tag files wholesale and
        # wrongly supersede (silently drop) legitimate late events. Any
        # history file whose rel carries no closing-batch tag forces the
        # exact per-batch reconstruction, regardless of what history
        # still shows.
        tags_intact = all(
            _closing_batch_of(rel) is not None
            for fl in self.table.snapshot.hist_files.values()
            for rel in fl
        )
        if tags_intact:
            return changed_keys_since(self.table, batch_id).select(*key)
        parts = [
            rows_created_in(self.table, b).select(*key).unionByName(
                rows_closed_in(
                    self.table, b, include_tombstones=True, strict=True
                ).select(*key)
            )
            for b in sorted(self.table.snapshot.committed_batches)
            if b > batch_id
        ]
        if not parts:  # nothing committed after the late id
            return self.table.read(family="current").select(*key).limit(0)
        return reduce(DataFrame.unionByName, parts).distinct()

    def _emit_status(self, record: dict) -> None:
        if self.messages_log is None:
            return
        from tpc_di_spark.plans.messages import status_messages

        self.messages_log.append(
            status_messages(
                self.spark,
                source="CdcOrchestrator",
                text="Status: Applied batch",
                data=(
                    f"events = {record['events_in']}, "
                    f"buckets = {record['buckets_touched']}, "
                    f"snapshot = {record['snapshot_id']}"
                ),
                batch_id=record["batch_id"],
            )
        )

    def _compact_one_delta(self, events: DataFrame, orig_batch_id: int) -> dict:
        """Replay one pending MoR delta batch through the CoW merge and,
        in the SAME atomic commit, pop it from the pending-delta list.
        New row versions carry the ORIGINAL batch id, so the materialized
        lineage is identical to an all-CoW replay. Killed mid-compaction:
        nothing committed, the delta stays pending, and the retry writes
        a fresh salted attempt (the killed attempt's files are
        unreferenced orphans, expire-swept)."""
        t0 = time.monotonic()
        deduped = lww_dedup(
            self.table.bucket_partitioned(align_events(events, self.table)),
            self.table.key_cols,
        )
        files, hist_delta, _rows, fstats = self._merge_write(
            deduped, orig_batch_id, None, f"compact-delta-{orig_batch_id:06d}"
        )
        props = dict(self.table.snapshot.properties)
        props["delta_batches"] = [
            b for b in pending_delta_batches(self.table) if b["batch_id"] != orig_batch_id
        ]
        snap = self.table.commit(
            new_files_by_bucket=files,
            mode="replace",
            replaced_buckets=set(self.table.snapshot.files) | set(files),
            batch_id=None,
            append_hist_by_bucket=hist_delta,
            new_file_stats=fstats,
            summary={"operation": "compact-delta", "delta_batch": orig_batch_id},
            new_properties=props,
        )
        return {
            "delta_batch": orig_batch_id,
            "snapshot_id": snap.snapshot_id,
            "secs": round(time.monotonic() - t0, 3),
        }

    # --------------------------------------------------------------- replay
    def replay(self, batches: Sequence[tuple[int, DataFrame]]) -> list[dict]:
        """Apply batches strictly in order (the reference's Batch2→Batch3
        sequencing, report §4.3). Already-committed batches are skipped."""
        return [self.apply_batch(df, bid) for bid, df in batches]


def bootstrap_table(
    spark: SparkSession,
    path: str,
    schema: StructType,
    num_buckets: int = 16,
    fs=None,
    properties: dict | None = None,
) -> LakeTable:
    """Create-if-absent (the reference's CREATE TABLE IF NOT EXISTS,
    `Historical/DimCustomer.py:521-563`, SURVEY S9)."""
    if LakeTable.exists(path, fs=fs):
        return LakeTable.load(spark, path, fs=fs)
    return LakeTable.create(
        spark, path, schema, num_buckets=num_buckets, fs=fs, properties=properties
    )
