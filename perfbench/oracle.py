"""DuckDB oracles for every output the benchmark times.

CDC state is a last-writer-wins fold over the same parquet change log the
engine reads, ordered by (ts, lsn, src_part), with deleted keys absent.
Engine output is compared as a multiset over every user column, in both
directions, so row order never matters. Dedup outputs are compared with
the contract's `oracle_sql()` entries on views over the generated corpus,
with the same value canonicalisation as `scripts/check_contract.py`.
"""

from __future__ import annotations

import math
import os

import duckdb
import pyarrow as pa

USER_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _connect() -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB on two threads, spilling under $TMPDIR if at all."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{os.environ.get('TMPDIR', '/tmp')}/duckdb'")
    return con


class CdcOracle:
    """LWW reference state over a list of change-log epoch files.

    `files[i]` is applied as position i of the log; `state(k)` is the state
    after positions 0..k. Several logs (e.g. a pre-load then a stream) are
    one list in apply order."""

    def __init__(self, files: list[str]):
        self.con = _connect()
        parts = [
            f"SELECT *, {i} AS _pos FROM read_parquet('{f}')" for i, f in enumerate(files)
        ]
        self.con.execute(f"CREATE TABLE log AS {' UNION ALL '.join(parts)}")

    def _winners(self, upto: int) -> str:
        return f"""
          SELECT * EXCLUDE (rn) FROM (
            SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                       ORDER BY ts DESC, lsn DESC, src_part DESC) rn
            FROM log WHERE _pos <= {upto}) WHERE rn = 1"""

    def state(self, upto: int, conv_id: str | None = None) -> pa.Table:
        where = "op <> 'D'" + (f" AND conv_id = '{conv_id}'" if conv_id else "")
        return self.con.execute(
            f"SELECT {', '.join(USER_COLS)} FROM ({self._winners(upto)}) WHERE {where}"
        ).arrow()

    def live_rows(self, upto: int) -> int:
        return self.con.execute(
            f"SELECT count(*) FROM ({self._winners(upto)}) WHERE op <> 'D'"
        ).fetchone()[0]

    def feed(self, pos: int) -> pa.Table:
        """Visible-state delta introduced by log position `pos`: insert,
        update_postimage or delete, post-image columns (a delete carries
        its tombstone: key and ts only)."""
        return self.con.execute(f"""
          WITH cur AS ({self._winners(pos)}),
               prev AS ({self._winners(pos - 1)} ),
          j AS (
            SELECT c.*, p.op AS p_op, p.ts AS p_ts, p.lsn AS p_lsn, p.src_part AS p_sp
            FROM cur c LEFT JOIN prev p USING (conv_id, turn_idx))
          SELECT conv_id, turn_idx,
                 CASE WHEN op = 'D' THEN NULL ELSE role END AS role,
                 CASE WHEN op = 'D' THEN NULL ELSE text END AS text,
                 CASE WHEN op = 'D' THEN NULL ELSE tool END AS tool,
                 ts,
                 CASE WHEN op <> 'D' AND (p_op IS NULL OR p_op = 'D') THEN 'insert'
                      WHEN op <> 'D' AND (ts, lsn, src_part) IS DISTINCT FROM
                                         (p_ts, p_lsn, p_sp) THEN 'update_postimage'
                      WHEN op = 'D' AND p_op IS NOT NULL AND p_op <> 'D' THEN 'delete'
                 END AS _change_type
          FROM j WHERE _change_type IS NOT NULL""").arrow()

    def epoch_counts(self, pos: int) -> tuple[int, int]:
        """(events, distinct keys) at log position `pos`."""
        return self.con.execute(
            f"SELECT count(*), count(DISTINCT (conv_id, turn_idx)) FROM log WHERE _pos = {pos}"
        ).fetchone()

    def close(self) -> None:
        self.con.close()


def _norm_ts(t: pa.Table) -> pa.Table:
    """Timestamps as int64 micros, so tz flavours compare equal."""
    cols = []
    for f in t.schema:
        c = t[f.name]
        if pa.types.is_timestamp(f.type):
            c = c.cast(pa.timestamp("us")).cast(pa.int64())
        cols.append(c)
    return pa.table(cols, names=t.schema.names)


def same_rows(got: pa.Table, want: pa.Table) -> bool:
    """Multiset equality over the columns of `want` (NULLs compare equal)."""
    if got.num_rows != want.num_rows:
        return False
    cols = want.schema.names
    if set(cols) - set(got.schema.names):
        return False
    g = _norm_ts(got.select(cols))
    w = _norm_ts(want)
    con = _connect()
    con.register("g", g)
    con.register("w", w)
    n = con.execute(
        "SELECT (SELECT count(*) FROM (SELECT * FROM g EXCEPT ALL SELECT * FROM w))"
        " + (SELECT count(*) FROM (SELECT * FROM w EXCEPT ALL SELECT * FROM g))"
    ).fetchone()[0]
    con.close()
    return n == 0


# ------------------------------------------------------------------ dedup

def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def rowset(cols: list[str], rows) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_canon(r[i]) for i in order) for r in rows)


class DedupOracle:
    """The contract's DuckDB restatements, over views of the corpus files."""

    def __init__(self, corpus_dir: str, oracle_sql: dict[str, str]):
        self.con = _connect()
        for t in ("documents", "embeddings"):
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'")
        self.sql = oracle_sql
        self._cache: dict[str, tuple[list[str], list[str]]] = {}

    def expected(self, name: str) -> tuple[list[str], list[str]]:
        if name not in self._cache:
            res = self.con.sql(self.sql[name])
            cols = list(res.columns)
            self._cache[name] = (sorted(cols), rowset(cols, res.fetchall()))
        return self._cache[name]

    def matches(self, name: str, cols: list[str], rows) -> bool:
        want_cols, want_rows = self.expected(name)
        return sorted(cols) == want_cols and rowset(cols, rows) == want_rows

    def close(self) -> None:
        self.con.close()
