"""The DuckDB reference agrees with the engine's own single-threaded oracle
(``tpc_di_spark.cdc.oracle``) on generated inputs, and its value hash
catches a live state with one row dropped.

Run from the root of a checkout: ``python3 -m pytest perfbench/tests -q``.
No Spark session is needed.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import inputs  # noqa: E402
import reference  # noqa: E402
from tpc_di_spark.cdc.oracle import OracleState  # noqa: E402

COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
TYPES = {"conv_id": "VARCHAR", "turn_idx": "INTEGER", "role": "VARCHAR",
         "text": "VARCHAR", "tool": "VARCHAR", "ts": "TIMESTAMP"}


def _batches(seed: int):
    rng = np.random.default_rng(seed)
    out = [inputs.historical(rng, 30, 4, 0)]
    for b in (2, 3, 4):
        out.append(inputs.incremental(rng, b, 200, 0, 30, 4, 2.0, 0, with_tool=(b == 4)))
    return out


def _oracle(batches) -> OracleState:
    state = OracleState(payload_cols=["role", "text", "ts"])
    for b in batches:
        df = b.to_arrow().to_pandas()
        state.apply_batch(df, b.batch_id)
    return state


@pytest.fixture(scope="module")
def replayed(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("in"))
    batches = _batches(seed=7)
    replay = reference.Replay(["conv_id", "turn_idx"], TYPES)
    for b in batches:
        replay.apply(reference.parquet_source(inputs.write_parquet(b, root)))
    return batches, replay


def test_live_state_matches_oracle(replayed):
    batches, replay = replayed
    oracle = _oracle(batches)
    want = oracle.current_df()
    got = replay.live()
    assert len(got) == len(want)
    assert reference.live_hash(got, COLS) == reference.live_hash(want, COLS)
    key = ["conv_id", "turn_idx"]
    a = reference.canonical(got, COLS).sort_values(key).reset_index(drop=True)
    b = reference.canonical(want, COLS).sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_history_count_matches_oracle(replayed):
    batches, replay = replayed
    assert replay.history_rows == len(_oracle(batches).history)


def test_one_dropped_row_is_caught(replayed):
    _batches_, replay = replayed
    live = replay.live()
    assert reference.live_hash(live.iloc[1:], COLS) != reference.live_hash(live, COLS)


def test_one_changed_value_is_caught(replayed):
    _batches_, replay = replayed
    live = replay.live()
    changed = live.copy()
    changed.loc[changed.index[0], "text"] = "tampered"
    assert reference.live_hash(changed, COLS) != reference.live_hash(live, COLS)


def test_debezium_source_matches_parquet(tmp_path):
    """The JSONL reader yields the same live state as the parquet one, and
    skips the malformed line every generated file carries."""
    rng = np.random.default_rng(3)
    th = inputs.historical(rng, 20, 3, 0)
    tail = inputs.incremental(rng, 2, 150, 0, 20, 3, 1.0, 0)
    image = {c: t for c, t in TYPES.items() if c not in ("tool", "ts")}
    via_parquet = reference.Replay(["conv_id", "turn_idx"], TYPES)
    via_jsonl = reference.Replay(["conv_id", "turn_idx"], TYPES)
    first = reference.parquet_source(inputs.write_parquet(th, str(tmp_path / "p")))
    via_parquet.apply(first)
    via_jsonl.apply(first)
    via_parquet.apply(reference.parquet_source(inputs.write_parquet(tail, str(tmp_path / "p"))))
    via_jsonl.apply(reference.debezium_source(
        inputs.write_debezium_transcripts(tail, str(tmp_path / "j")), image))
    assert reference.live_hash(via_parquet.live(), COLS) == reference.live_hash(via_jsonl.live(), COLS)
    assert via_parquet.history_rows == via_jsonl.history_rows
