"""Independent correctness reference: a DuckDB replay of the input files.

It shares no code with the engine. Per batch, in batch order, it folds the
batch's events last-writer-wins per key by ``(ts, cdc_dsn)`` and applies the
survivor to the live set:

- ``I`` (or ``U`` of an absent key) inserts the event's payload;
- ``U`` of a live key keeps the current value of every NULL field;
- ``D`` removes a live key, or leaves a tombstone when the key is absent;
- a column missing from a batch (``tool`` before the evolution batch) is
  NULL for that batch.

Every replaced or deleted live row, and every tombstone, becomes one
history row. The replay yields the live rows and the history row count;
:func:`live_hash` turns live rows into an order-independent value hash that
the engine's live state must match.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

_NULL = "\x00null"


def parquet_source(path: str) -> str:
    return f"SELECT * FROM read_parquet('{path}')"


def debezium_source(path: str, payload_types: dict[str, str]) -> str:
    """Change events from a Debezium JSONL file; lines that do not parse or
    lack an op, image, ``ts_ms`` or ``lsn`` are skipped (the engine
    quarantines the same lines)."""
    image = ", ".join(f"{c} {t}" for c, t in payload_types.items())
    cols = ", ".join(
        f"CASE WHEN op = 'd' THEN before.{c} ELSE after.{c} END AS {c}"
        for c in payload_types
    )
    return f"""
        SELECT CASE op WHEN 'c' THEN 'I' WHEN 'r' THEN 'I' WHEN 'u' THEN 'U'
                       WHEN 'd' THEN 'D' END AS cdc_flag,
               lsn AS cdc_dsn, {cols},
               make_timestamp(ts_ms * 1000) AS ts
        FROM (SELECT payload.op AS op, payload.ts_ms AS ts_ms,
                     payload.before AS before, payload.after AS after,
                     payload.source.lsn AS lsn
              FROM read_json('{path}', format = 'newline_delimited',
                             ignore_errors = true,
                             columns = {{'payload': 'STRUCT(op VARCHAR, ts_ms BIGINT,
                                 before STRUCT({image}), after STRUCT({image}),
                                 source STRUCT(lsn BIGINT))'}}))
        WHERE op IN ('c', 'r', 'u', 'd') AND ts_ms IS NOT NULL
          AND lsn IS NOT NULL
          AND (CASE WHEN op = 'd' THEN before ELSE after END) IS NOT NULL
    """


class Replay:
    """Live state of one table, replayed batch by batch in DuckDB."""

    def __init__(self, key_cols, payload_types: dict[str, str]):
        self.keys = list(key_cols)
        self.payload = [c for c in payload_types if c not in self.keys]
        self.types = dict(payload_types)
        self.db = duckdb.connect()
        self.db.execute("SET TimeZone = 'UTC'")
        cols = ", ".join(f"{c} {self.types[c]}" for c in self.keys + self.payload)
        self.db.execute(f"CREATE TABLE cur ({cols})")
        self.history_rows = 0

    def apply(self, source_sql: str) -> None:
        db = self.db
        have = {r[0] for r in db.execute(f"DESCRIBE {source_sql}").fetchall()}
        proj = ", ".join(
            (c if c in have else f"CAST(NULL AS {self.types[c]}) AS {c}")
            for c in ["cdc_flag", "cdc_dsn"] + self.keys + self.payload
        )
        keys = ", ".join(self.keys)
        db.execute(
            f"""CREATE OR REPLACE TEMP TABLE f AS
                SELECT * EXCLUDE (rn) FROM (
                  SELECT {proj}, row_number() OVER (
                    PARTITION BY {keys} ORDER BY ts DESC, cdc_dsn DESC) AS rn
                  FROM ({source_sql})) WHERE rn = 1"""
        )
        on = " AND ".join(f"f.{k} = c.{k}" for k in self.keys)
        closed, tombstones = db.execute(
            f"""SELECT count(c.{self.keys[0]}),
                       count(*) FILTER (WHERE c.{self.keys[0]} IS NULL
                                        AND f.cdc_flag = 'D')
                FROM f LEFT JOIN cur c ON {on}"""
        ).fetchone()
        self.history_rows += closed + tombstones
        merged = ", ".join(
            f"CASE WHEN f.cdc_flag = 'U' AND c.{self.keys[0]} IS NOT NULL "
            f"THEN coalesce(f.{p}, c.{p}) ELSE f.{p} END AS {p}"
            for p in self.payload
        )
        fkeys = ", ".join(f"f.{k}" for k in self.keys)
        db.execute(
            f"""CREATE OR REPLACE TABLE cur AS
                SELECT * FROM cur c WHERE NOT EXISTS (SELECT 1 FROM f WHERE {on})
                UNION ALL
                SELECT {fkeys}, {merged} FROM f LEFT JOIN cur c ON {on}
                WHERE f.cdc_flag <> 'D'"""
        )

    def live(self) -> pd.DataFrame:
        return self.db.execute("SELECT * FROM cur").df()

    def live_count(self, where: str = "TRUE") -> int:
        return self.db.execute(f"SELECT count(*) FROM cur WHERE {where}").fetchone()[0]

    def close(self) -> None:
        self.db.close()


def canonical(df: pd.DataFrame, cols) -> pd.DataFrame:
    """Engine and reference rows in one comparable form: strings with a NULL
    sentinel, integers as int64, timestamps as epoch microseconds."""
    out = pd.DataFrame(index=range(len(df)))
    for c in cols:
        if c not in df.columns:
            out[c] = _NULL
            continue
        s = df[c].reset_index(drop=True)
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            out[c] = s.astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_integer_dtype(s) or pd.api.types.is_bool_dtype(s):
            out[c] = s.astype("int64")
        else:
            out[c] = s.astype(object).where(s.notna(), _NULL).astype(str)
    return out


def live_hash(df: pd.DataFrame, cols) -> int:
    """Order-independent value hash of a multiset of rows (a wrapping sum of
    row hashes, so a duplicated row changes it too)."""
    h = pd.util.hash_pandas_object(canonical(df, cols), index=False)
    return int(h.to_numpy(dtype=np.uint64).sum(dtype=np.uint64))
