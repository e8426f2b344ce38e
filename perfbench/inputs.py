"""Seeded change-file generator for the benchmark.

Every input the engine sees is a file written here from ``--seed``:

- parquet CDC extracts in TPC-DI's ``BatchN/`` layout
  (``BatchN/transcripts.parquet``), envelope ``cdc_flag, cdc_dsn`` plus the
  transcript payload; the last bulk batch may add the ``tool`` column;
- Debezium JSONL envelopes (``BatchN/transcripts.jsonl`` and
  ``BatchN/conversations.jsonl``) for the binlog-tail workload, each with
  one deliberately malformed line that the source must quarantine.

The generator is numpy-only (no Spark), so the same files feed the engine
and the DuckDB reference. Shapes follow ``tpc_di_spark.cdc.generator``:
Batch1 is all inserts; later batches mix I/U/D over a power-law
(hot-conversation) key distribution, with in-batch duplicate keys and
``ts`` ties so the LWW fold and its ``cdc_dsn`` tie-break both run, 'U'
events with NULL fields (retain-current semantics), and deletes of absent
keys (tombstones).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_EPOCH = 1_700_000_000
ROLES = np.array(["user", "assistant", "tool"], dtype=object)
STATUSES = np.array(["open", "pending", "closed"], dtype=object)
FILLER = " lorem ipsum turn token"


def conv_ids(ids: np.ndarray) -> np.ndarray:
    return np.array([f"conv-{i:06d}" for i in ids.tolist()], dtype=object)


def _text(conv, turn, batch_id, rid, repeat: int) -> np.ndarray:
    return np.array(
        [
            f"text c{c} t{t} b{batch_id} s{r}" + FILLER * repeat
            for c, t, r in zip(conv.tolist(), turn.tolist(), rid.tolist())
        ],
        dtype=object,
    )


@dataclass
class EventBatch:
    """One batch of transcript change events as numpy columns."""

    batch_id: int
    flag: np.ndarray
    dsn: np.ndarray
    conv: np.ndarray  # integer conversation ids
    turn: np.ndarray
    role: np.ndarray
    text: np.ndarray
    ts_s: np.ndarray  # epoch seconds (int64)
    tool: np.ndarray | None = None

    def __len__(self) -> int:
        return len(self.flag)

    def to_arrow(self) -> pa.Table:
        cols = {
            "cdc_flag": pa.array(self.flag, pa.string()),
            "cdc_dsn": pa.array(self.dsn, pa.int64()),
            "conv_id": pa.array(conv_ids(self.conv), pa.string()),
            "turn_idx": pa.array(self.turn, pa.int32()),
            "role": pa.array(self.role, pa.string()),
            "text": pa.array(self.text, pa.string()),
        }
        if self.tool is not None:
            cols["tool"] = pa.array(self.tool, pa.string())
        cols["ts"] = pa.array(self.ts_s * 1_000_000, pa.timestamp("us"))
        return pa.table(cols)


def historical(rng, n_convs: int, turns: int, text_repeat: int) -> EventBatch:
    """Batch1: one insert per (conversation, turn)."""
    n = n_convs * turns
    rid = np.arange(n, dtype=np.int64)
    conv = rid // turns
    turn = (rid % turns).astype(np.int32)
    return EventBatch(
        batch_id=1,
        flag=np.full(n, "I", dtype=object),
        dsn=rid,
        conv=conv,
        turn=turn,
        role=ROLES[rng.integers(0, 3, n)],
        text=_text(conv, turn, 1, rid, text_repeat),
        ts_s=BASE_EPOCH + rid,
    )


def incremental(
    rng,
    batch_id: int,
    n_events: int,
    conv_lo: int,
    conv_hi: int,
    turns: int,
    skew: float,
    text_repeat: int,
    with_tool: bool = False,
    p_update: float = 0.6,
    p_delete: float = 0.05,
    p_null: float = 0.1,
) -> EventBatch:
    """Batch k >= 2 over conversations ``[conv_lo, conv_hi)``.

    Updates and deletes target turns ``[0, turns)`` (some already deleted,
    so some updates upsert and some deletes leave tombstones); inserts
    extend each conversation into a per-batch turn range, with collisions
    giving in-batch duplicate keys."""
    n = n_events
    span = conv_hi - conv_lo
    u = rng.random(n) ** (1.0 + max(skew, 0.0))
    conv = conv_lo + np.minimum((u * span).astype(np.int64), span - 1)
    fu = rng.random(n)
    flag = np.where(fu < p_delete, "D", np.where(fu < p_delete + p_update, "U", "I")).astype(object)
    upd_turn = rng.integers(0, turns, n)
    ins_turn = turns * batch_id + rng.integers(0, turns, n)
    turn = np.where(flag == "I", ins_turn, upd_turn).astype(np.int32)
    dsn = np.arange(n, dtype=np.int64) + batch_id * 10_000_000
    # ts collides within a batch (n/4 distinct seconds): cdc_dsn breaks ties.
    ts_s = BASE_EPOCH + batch_id * 100_000_000 + rng.integers(0, max(n // 4, 1), n)
    role = ROLES[rng.integers(0, 3, n)].copy()
    text = _text(conv, turn, batch_id, dsn, text_repeat)
    is_u = flag == "U"
    null_role = is_u & (rng.random(n) < p_null)
    null_text = is_u & (rng.random(n) < p_null)
    role[null_role] = None
    text[null_text] = None
    is_d = flag == "D"
    role[is_d] = None
    text[is_d] = None
    tool = None
    if with_tool:
        tid = rng.integers(0, 8, n)
        tool = np.array([f"tool_{t}" for t in tid.tolist()], dtype=object)
        tool[(rng.random(n) >= 0.25) | is_d] = None
    return EventBatch(batch_id, flag, dsn, conv, turn, role, text, ts_s, tool)


def write_parquet(batch: EventBatch, root: str, name: str = "transcripts") -> str:
    d = os.path.join(root, f"Batch{batch.batch_id}")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{name}.parquet")
    pq.write_table(batch.to_arrow(), path, compression="zstd")
    return path


# --------------------------------------------------------------- Debezium
_OPS = {"I": "c", "U": "u", "D": "d"}


def _envelope(op: str, ts_ms: int, lsn: int, key: dict, image: dict) -> str:
    before = key if op == "d" else None
    after = None if op == "d" else image
    return json.dumps(
        {"payload": {"op": op, "ts_ms": ts_ms, "before": before, "after": after,
                     "source": {"lsn": lsn}}},
        separators=(",", ":"),
    )


def write_debezium_transcripts(batch: EventBatch, root: str) -> str:
    d = os.path.join(root, f"Batch{batch.batch_id}")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "transcripts.jsonl")
    cids = conv_ids(batch.conv)
    with open(path, "w") as f:
        for i in range(len(batch)):
            key = {"conv_id": cids[i], "turn_idx": int(batch.turn[i])}
            image = {**key, "role": batch.role[i], "text": batch.text[i]}
            f.write(_envelope(_OPS[batch.flag[i]], int(batch.ts_s[i]) * 1000,
                              int(batch.dsn[i]), key, image) + "\n")
        f.write('{"payload": {"op": "u", "ts_ms": \n')  # truncated record
    return path


@dataclass
class DimBatch:
    """Conversation-dimension change events (key ``conv_id``)."""

    batch_id: int
    flag: np.ndarray
    dsn: np.ndarray
    conv: np.ndarray
    owner: np.ndarray
    status: np.ndarray
    ts_s: np.ndarray

    def __len__(self) -> int:
        return len(self.flag)

    def to_arrow(self) -> pa.Table:
        return pa.table({
            "cdc_flag": pa.array(self.flag, pa.string()),
            "cdc_dsn": pa.array(self.dsn, pa.int64()),
            "conv_id": pa.array(conv_ids(self.conv), pa.string()),
            "owner": pa.array(self.owner, pa.string()),
            "status": pa.array(self.status, pa.string()),
            "ts": pa.array(self.ts_s * 1_000_000, pa.timestamp("us")),
        })


def dim_batch(rng, batch_id: int, new_convs: np.ndarray, upd_convs: np.ndarray) -> DimBatch:
    """Creates for ``new_convs``, status updates (some with a NULL owner,
    which retains the current one) for ``upd_convs``. No deletes, so every
    transcript row keeps a parent."""
    conv = np.concatenate([new_convs, upd_convs]).astype(np.int64)
    n = len(conv)
    flag = np.array(["I"] * len(new_convs) + ["U"] * len(upd_convs), dtype=object)
    owner = np.array([f"user-{o}" for o in rng.integers(0, 50, n).tolist()], dtype=object)
    owner[(flag == "U") & (rng.random(n) < 0.5)] = None
    return DimBatch(
        batch_id=batch_id,
        flag=flag,
        dsn=np.arange(n, dtype=np.int64) + batch_id * 10_000_000,
        conv=conv,
        owner=owner,
        status=STATUSES[rng.integers(0, 3, n)],
        ts_s=BASE_EPOCH + batch_id * 100_000_000 + rng.integers(0, max(n // 2, 1), n),
    )


def write_debezium_dim(batch: DimBatch, root: str) -> str:
    d = os.path.join(root, f"Batch{batch.batch_id}")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "conversations.jsonl")
    cids = conv_ids(batch.conv)
    with open(path, "w") as f:
        for i in range(len(batch)):
            key = {"conv_id": cids[i]}
            image = {**key, "owner": batch.owner[i], "status": batch.status[i]}
            f.write(_envelope(_OPS[batch.flag[i]], int(batch.ts_s[i]) * 1000,
                              int(batch.dsn[i]), key, image) + "\n")
        f.write("not json at all\n")
    return path
