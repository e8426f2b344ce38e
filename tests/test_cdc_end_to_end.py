"""End-to-end CDC replay vs the reference-replay oracle (SURVEY §5.2)."""

import datetime as dt

import pyspark.sql.functions as F
import pytest

from tests.conftest import assert_pdf_equal
from tpc_di_spark.cdc import CdcOrchestrator, current_state
from tpc_di_spark.cdc.generator import historical_batch, incremental_batch
from tpc_di_spark.cdc.oracle import OracleState
from tpc_di_spark.cdc.orchestrator import bootstrap_table
from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA

N_CONVS = 40
TURNS = 8


def make_batches(spark, with_tool_from=3, n_batches=3):
    batches = [(1, historical_batch(spark, N_CONVS, TURNS))]
    for b in range(2, n_batches + 1):
        batches.append(
            (
                b,
                incremental_batch(
                    spark,
                    batch_id=b,
                    n_events=600,
                    n_convs=N_CONVS,
                    turns_per_conv=TURNS,
                    skew=2.0,
                    with_tool=(b >= with_tool_from),
                ),
            )
        )
    return batches


def run_oracle(batches):
    oracle = OracleState(payload_cols=["role", "text", "ts"])
    for bid, df in batches:
        oracle.apply_batch(df.toPandas(), bid)
    return oracle


@pytest.fixture(scope="module")
def replayed(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("lake") / "transcripts")
    table = bootstrap_table(spark, path, TRANSCRIPT_SCHEMA, num_buckets=8)
    orch = CdcOrchestrator(table, buckets_per_group=3)
    batches = make_batches(spark)
    metrics = orch.replay(batches)
    return table, orch, batches, metrics


def test_final_state_matches_oracle(replayed, spark):
    table, _, batches, _ = replayed
    oracle = run_oracle(batches)
    got = current_state(table).toPandas()
    want = oracle.current_df()
    assert_pdf_equal(got, want, ["conv_id", "turn_idx"])


def test_full_lineage_matches_oracle(replayed, spark):
    table, _, batches, _ = replayed
    oracle = run_oracle(batches)
    # end_ts=9999-12-31 overflows pandas ns timestamps; compare as strings.
    ts_cols = ["ts", "effective_ts", "end_ts"]
    df = table.read()
    got = df.select(
        *[c for c in df.columns if c not in ts_cols],
        *[F.date_format(c, "yyyy-MM-dd HH:mm:ss").alias(c) for c in ts_cols],
    ).toPandas()
    want = oracle.full_df()
    for c in ts_cols:
        want[c] = want[c].map(
            lambda v: v.strftime("%Y-%m-%d %H:%M:%S") if v is not None else None
        )
    sort = ["conv_id", "turn_idx", "effective_ts", "is_current"]
    assert_pdf_equal(got[want.columns], want, sort)


def test_schema_evolution_applied(replayed):
    table, *_ = replayed
    names = [f.name for f in table.schema.fields]
    assert "tool" in names
    # Pre-evolution rows read back as NULL tool.
    df = table.read()
    assert df.filter((F.col("batch_id") < 3) & F.col("tool").isNotNull()).count() == 0


def test_idempotent_reapply(replayed, spark):
    table, orch, batches, _ = replayed
    before = table.snapshot.snapshot_id
    rec = orch.apply_batch(batches[-1][1], batches[-1][0])
    assert rec.get("skipped") == "already-committed"
    assert table.refresh().snapshot.snapshot_id == before


def test_metrics_emitted(replayed):
    _, _, _, metrics = replayed
    applied = [m for m in metrics if "skipped" not in m]
    assert len(applied) == 3
    for m in applied:
        assert m["events_in"] > 0
        assert m["buckets_touched"] >= 1
        assert all("rows_written" in g for g in m["groups"])  # per-partition lineage


def test_event_order_permutation_invariance(spark, tmp_path):
    """Shuffling intra-batch event order must not change the final state —
    LWW is keyed on (conv_id, turn_idx, ts, cdc_dsn), never file order."""
    batches = make_batches(spark, n_batches=2)

    def run(order_desc: bool):
        path = str(tmp_path / f"lake-{order_desc}")
        table = bootstrap_table(spark, path, TRANSCRIPT_SCHEMA, num_buckets=8)
        orch = CdcOrchestrator(table)
        for bid, df in batches:
            shuffled = df.orderBy(F.col("cdc_dsn").desc() if order_desc else F.col("cdc_dsn"))
            orch.apply_batch(shuffled, bid)
        return current_state(table).toPandas()

    assert_pdf_equal(run(False), run(True), ["conv_id", "turn_idx"])


def test_upsert_for_unknown_key_and_delete_then_reinsert(spark, tmp_path):
    path = str(tmp_path / "edge")
    table = bootstrap_table(spark, path, TRANSCRIPT_SCHEMA, num_buckets=4)
    orch = CdcOrchestrator(table)
    t0 = dt.datetime(2024, 1, 1)
    mk = lambda rows: spark.createDataFrame(
        rows, "cdc_flag string, cdc_dsn long, conv_id string, turn_idx int, role string, text string, ts timestamp"
    )
    orch.apply_batch(
        mk(
            [
                ("U", 1, "cX", 0, "user", "update-without-insert", t0),
                ("I", 2, "cY", 0, "user", "will-be-deleted", t0),
            ]
        ),
        1,
    )
    state = {(r.conv_id, r.turn_idx): r.text for r in current_state(table).collect()}
    assert state[("cX", 0)] == "update-without-insert", "U on absent key upserts"
    orch.apply_batch(
        mk(
            [
                ("D", 1, "cY", 0, None, None, t0 + dt.timedelta(seconds=10)),
            ]
        ),
        2,
    )
    assert ("cY", 0) not in {
        (r.conv_id, r.turn_idx) for r in current_state(table).collect()
    }
    orch.apply_batch(
        mk([("I", 1, "cY", 0, "user", "reborn", t0 + dt.timedelta(seconds=20))]), 3
    )
    rows = current_state(table).filter("conv_id = 'cY'").collect()
    assert len(rows) == 1 and rows[0].text == "reborn"
    # Lineage: cY turn 0 has one closed version (the delete closed it;
    # D inserts no new version) + one current (the re-insert).
    versions = table.read().filter("conv_id = 'cY' and turn_idx = 0").collect()
    assert sorted(v.is_current for v in versions) == [False, True]


def test_update_null_fields_retain_current_values(spark, tmp_path):
    """UPDACCT semantics: fields not present retain current values
    (Historical/dim_account.py:51-63)."""
    path = str(tmp_path / "retain")
    table = bootstrap_table(spark, path, TRANSCRIPT_SCHEMA, num_buckets=4)
    orch = CdcOrchestrator(table)
    t0 = dt.datetime(2024, 1, 1)
    mk = lambda rows: spark.createDataFrame(
        rows, "cdc_flag string, cdc_dsn long, conv_id string, turn_idx int, role string, text string, ts timestamp"
    )
    orch.apply_batch(mk([("I", 1, "c1", 0, "assistant", "original", t0)]), 1)
    orch.apply_batch(
        mk([("U", 1, "c1", 0, None, "revised", t0 + dt.timedelta(seconds=5))]), 2
    )
    row = current_state(table).filter("conv_id='c1'").collect()[0]
    assert row.text == "revised"
    assert row.role == "assistant", "NULL role in U retains prior value"


def test_crash_resume_mid_batch(spark, tmp_path):
    """Kill between partition groups of a batch; resume from the checkpoint
    manifests; final state equals an uninterrupted run (SURVEY §5.2 item 5)."""
    batches = make_batches(spark, n_batches=2)

    def build(path):
        table = bootstrap_table(spark, str(path), TRANSCRIPT_SCHEMA, num_buckets=8)
        return table, CdcOrchestrator(table, buckets_per_group=2)

    # Uninterrupted reference run.
    t_ref, o_ref = build(tmp_path / "ref")
    for bid, df in batches:
        o_ref.apply_batch(df, bid)

    # Crashing run: fail after the second group of batch 2.
    t_crash, o_crash = build(tmp_path / "crash")
    o_crash.apply_batch(batches[0][1], 1)

    calls = {"n": 0}
    orig = t_crash.write_data_files_split

    def flaky(df, tag, **kw):
        calls["n"] += 1
        if calls["n"] == 3:
            raise RuntimeError("simulated kill")
        return orig(df, tag, **kw)

    t_crash.write_data_files_split = flaky
    with pytest.raises(RuntimeError, match="simulated kill"):
        o_crash.apply_batch(batches[1][1], 2)
    t_crash.write_data_files_split = orig

    # Crash left the table on the pre-batch snapshot (atomicity).
    assert t_crash.refresh().snapshot.snapshot_id == t_ref.read_snapshot(
        t_ref.snapshot.parent_id
    ).snapshot_id
    assert not t_crash.is_batch_committed(2)

    # Resume: sealed groups are reused, the rest recomputed.
    rec = o_crash.apply_batch(batches[1][1], 2)
    assert any(g.get("resumed") for g in rec["groups"]), "checkpointed groups reused"
    assert_pdf_equal(
        current_state(t_crash).toPandas(),
        current_state(t_ref).toPandas(),
        ["conv_id", "turn_idx"],
    )


def test_resume_across_geometry_change(spark, tmp_path):
    """A batch killed mid-apply in grouped mode then resumed in SINGLE-group
    mode must not reuse the grouped manifest (which covers only the first
    bucket group) as the whole-batch result — geometry is stamped into each
    checkpoint manifest and a mismatch forces recomputation."""
    batches = make_batches(spark, n_batches=2)

    t_ref = bootstrap_table(spark, str(tmp_path / "ref"), TRANSCRIPT_SCHEMA, num_buckets=8)
    o_ref = CdcOrchestrator(t_ref, buckets_per_group=8)
    for bid, df in batches:
        o_ref.apply_batch(df, bid)

    t = bootstrap_table(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=8)
    grouped = CdcOrchestrator(t, buckets_per_group=2)
    grouped.apply_batch(batches[0][1], 1)

    # Kill after the first group's manifest is sealed.
    calls = {"n": 0}
    orig = t.write_data_files_split

    def flaky(df, tag, **kw):
        if calls["n"] == 1:
            raise RuntimeError("simulated kill")
        calls["n"] += 1
        return orig(df, tag, **kw)

    t.write_data_files_split = flaky
    with pytest.raises(RuntimeError, match="simulated kill"):
        grouped.apply_batch(batches[1][1], 2)
    t.write_data_files_split = orig

    # Resume under a DIFFERENT geometry: single-group fast path.
    single = CdcOrchestrator(t, buckets_per_group=8)
    rec = single.apply_batch(batches[1][1], 2)
    assert not any(g.get("resumed") for g in rec["groups"]), (
        "stale grouped manifest must be invalidated, not reused"
    )
    assert_pdf_equal(
        current_state(t).toPandas(),
        current_state(t_ref).toPandas(),
        ["conv_id", "turn_idx"],
    )


def test_cross_batch_ordering_is_batch_id_first(spark, tmp_path):
    """Locks the documented cross-batch semantics (CDC_DSN-monotone model,
    matching the reference's strictly sequential Batch2->Batch3 stream):
    a later BATCH wins even when its event carries an OLDER timestamp —
    ts/dsn order applies only WITHIN a batch's LWW fold."""
    from tpc_di_spark.cdc.mor import apply_batch_mor, current_state_mor

    def mk(rows):
        return spark.createDataFrame(
            rows,
            "cdc_flag string, cdc_dsn long, conv_id string, turn_idx int, "
            "role string, text string, ts timestamp",
        )

    t1 = dt.datetime(2024, 1, 10)
    t0 = dt.datetime(2024, 1, 5)  # OLDER than the batch-1 version
    for mode in ("cow", "mor"):
        table = bootstrap_table(
            spark, str(tmp_path / mode), TRANSCRIPT_SCHEMA, num_buckets=4
        )
        orch = CdcOrchestrator(table, buckets_per_group=4)
        b1 = mk([("I", 1, "c1", 0, "user", "from-batch-1", t1)])
        b2 = mk([("U", 2, "c1", 0, "user", "from-batch-2-older-ts", t0)])
        if mode == "cow":
            orch.apply_batch(b1, 1)
            orch.apply_batch(b2, 2)
            state = current_state(table)
        else:
            apply_batch_mor(orch, b1, 1)
            apply_batch_mor(orch, b2, 2)
            state = current_state_mor(table)
        row = state.filter("conv_id = 'c1'").collect()[0]
        assert row.text == "from-batch-2-older-ts", (
            f"{mode}: batch-id-first ordering — the later batch's change "
            "applies even with an older event timestamp"
        )


def _jobs_of(spark, group, fn):
    """Spark jobs ``fn`` submits, counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "buckets_per_group,cold_jobs,resumed_jobs",
    [(8, 2, 2), (2, 8, 4)],
    ids=["single-group", "grouped"],
)
def test_spark_jobs_per_apply_pinned(
    spark, tmp_path, buckets_per_group, cold_jobs, resumed_jobs
):
    """Pins the Spark jobs one apply runs, cold and resumed. Single-group
    mode runs no bucket-discovery job: its merge write is the batch's
    only pass over the events, and a resumed apply whose sealed manifest
    made the write a no-op pays one forced pass for the input accounting.
    Grouped mode adds the discovery job that persists the deduped batch."""
    batches = make_batches(spark, n_batches=2)

    def build(name):
        table = bootstrap_table(spark, str(tmp_path / name), TRANSCRIPT_SCHEMA, num_buckets=8)
        orch = CdcOrchestrator(table, buckets_per_group=buckets_per_group)
        orch.apply_batch(batches[0][1], 1)
        return table, orch

    _, orch = build("cold")
    rec, n_cold = _jobs_of(
        spark, f"cold-{buckets_per_group}", lambda: orch.apply_batch(batches[1][1], 2)
    )
    assert "skipped" not in rec

    # Kill the apply after every group is sealed (at its commit), then
    # resume from the manifests: no group is recomputed.
    table, orch = build("resumed")
    orig = table.commit

    def killed(**kw):
        raise RuntimeError("simulated kill")

    table.commit = killed
    with pytest.raises(RuntimeError, match="simulated kill"):
        orch.apply_batch(batches[1][1], 2)
    table.commit = orig
    rec, n_resumed = _jobs_of(
        spark, f"resumed-{buckets_per_group}", lambda: orch.apply_batch(batches[1][1], 2)
    )
    assert rec["groups"] and all(g.get("resumed") for g in rec["groups"])
    assert (n_cold, n_resumed) == (cold_jobs, resumed_jobs)
