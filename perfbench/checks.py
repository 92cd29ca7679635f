"""Output checks: DuckDB oracle comparison, order-insensitive digests and
the streaming workload's models.

The oracle comparison reuses ``tools/check_oracle.py``'s table list and
row normalisation (imported, not copied), so a row passes here exactly
when it passes the repository's correctness gate.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructType

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _check_oracle():
    tools = os.path.join(ROOT, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import check_oracle

    return check_oracle


def oracle_connection(data_dir: str):
    """DuckDB connection with one view per generated table."""
    import duckdb

    con = duckdb.connect()
    for t in _check_oracle().TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_mismatch(con, sql: str, cols: list[str], rows: list[tuple]) -> str | None:
    """None when the Spark rows equal the oracle's (column names, row
    count, normalised order-insensitive values); else what differs."""
    co = _check_oracle()
    res = con.execute(sql)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    if sorted(cols) != sorted(d_cols):
        return f"columns {sorted(cols)} != {sorted(d_cols)}"
    if len(rows) != len(d_rows):
        return f"rowcount {len(rows)} != {len(d_rows)}"
    _s, s_lines = co.frame_signature(cols, rows)
    _d, d_lines = co.frame_signature(d_cols, d_rows)
    if s_lines != d_lines:
        diff = [(a, b) for a, b in zip(s_lines, d_lines) if a != b][:2]
        return f"value mismatch, first diffs: {diff}"
    return None


def _has_map(t: DataType) -> bool:
    if isinstance(t, MapType):
        return True
    if isinstance(t, ArrayType):
        return _has_map(t.elementType)
    if isinstance(t, StructType):
        return any(_has_map(f.dataType) for f in t.fields)
    return False


def digest(df: DataFrame) -> tuple[int, str]:
    """(row count, order-insensitive content digest) in one aggregate job.
    Every column is hashed, so every column is computed — unlike
    ``count()``, which lets the optimizer prune unused projections."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        cols.append(F.to_json(c) if _has_map(f.dataType) else c)
    h = F.xxhash64(*cols).cast("decimal(38,0)")
    r = df.agg(F.count(F.lit(1)), F.sum(h)).collect()[0]
    return int(r[0]), str(r[1])


class CdcModel:
    """Python model of the streamed CDC state: per key the highest-seq
    change wins, and a change at or below the applied seq is refused (the
    sink's seq guard)."""

    def __init__(self, snapshot) -> None:
        self.rows = {k: (None, "U", bal, tier) for k, bal, tier in snapshot}

    def apply(self, changes) -> None:
        for k, seq, op, bal, tier in sorted(changes, key=lambda c: c[1]):
            cur = self.rows.get(k)
            if cur is None or cur[0] is None or seq > cur[0]:
                self.rows[k] = (seq, op, bal, tier)

    def live(self, keys) -> set[tuple]:
        out = set()
        for k in keys:
            r = self.rows.get(k)
            if r is not None and r[1] != "D":
                out.add((k, r[2], r[3]))
        return out
