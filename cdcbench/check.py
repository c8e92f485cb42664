"""Correctness checks, run outside every timed section.

- Lake state: an independent DuckDB last-writer-wins fold of the same
  WAL files the engine applied (winner per key = highest lsn; a winning
  delete removes the key), compared row for row with the engine's
  ``read()`` and with the rows its point lookups returned.
- Catalog: each query's Spark result against its ``oracle_sql()`` run
  by DuckDB on the same parquet files, by row count and an
  order-insensitive hash of the normalised rows. The oracle side depends
  only on the input, so it is cached next to the input.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from decimal import Decimal

import inputs
from inputs import CATALOG_TABLES, wal_sql

USER_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float) or type(v).__name__.startswith("float"):
        f = float(v)
        return "nan" if math.isnan(f) else f"{f:.9g}"
    if isinstance(v, Decimal):
        return f"{float(v):.9g}"
    if hasattr(v, "isoformat"):
        return v.isoformat(sep=" ")
    if hasattr(v, "item"):
        return v.item()
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    return v


def digest(rows) -> tuple[int, str]:
    """(row count, order-insensitive hash) of an iterable of row tuples."""
    lines = sorted(json.dumps([_norm(x) for x in r], default=str) for r in rows)
    h = hashlib.md5("\n".join(lines).encode()).hexdigest()
    return len(lines), h


def fold(wal: str, max_seg: int) -> dict:
    """Live state after applying segments ``<= max_seg``: key -> row."""
    con = inputs.duckdb_con()
    try:
        con.execute("SET TimeZone = 'UTC'")
        rows = con.execute(f"""
            SELECT conv_id, turn_idx, role, text, tool, CAST(ts AS TIMESTAMP) AS ts
            FROM (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                              ORDER BY lsn DESC, ts DESC) AS rn
                  FROM {wal_sql(wal, max_seg)})
            WHERE rn = 1 AND op <> 'delete'
        """).fetchall()
    finally:
        con.close()
    return {(r[0], int(r[1])): tuple(_norm(x) for x in r) for r in rows}


def spark_rows(df) -> list[tuple]:
    return [tuple(_norm(r[c]) for c in USER_COLS) for r in df.select(USER_COLS).collect()]


def state_diff(got: list[tuple], want: dict, conv_id: str | None = None) -> str | None:
    """None when ``got`` equals the fold (restricted to ``conv_id`` if
    given), else a short description of the first difference."""
    exp = {k: v for k, v in want.items() if conv_id is None or k[0] == conv_id}
    have = {(r[0], int(r[1])): r for r in got}
    if len(have) != len(got):
        return f"duplicate keys: {len(got)} rows, {len(have)} keys"
    if have == exp:
        return None
    missing = sorted(set(exp) - set(have))[:3]
    extra = sorted(set(have) - set(exp))[:3]
    wrong = sorted(k for k in set(exp) & set(have) if exp[k] != have[k])[:3]
    return (f"{len(have)} rows vs {len(exp)} expected; missing {missing} extra {extra} "
            f"differing {[(have[k], exp[k]) for k in wrong[:1]]} ({len(wrong)}+ keys)")


def oracle_digests(sf_dir: str, oracles: dict[str, str]) -> dict:
    """Oracle [sorted columns, row count, hash] per query, cached in the
    input dir under the query name and a hash of its SQL."""
    path = os.path.join(sf_dir, "_ORACLE.json")
    cache = {}
    if os.path.exists(path):
        with open(path) as f:
            cache = json.load(f)
    key = {q: f"{q}:{hashlib.md5(sql.encode()).hexdigest()[:12]}" for q, sql in oracles.items()}
    todo = [q for q in oracles if key[q] not in cache]
    if todo:
        con = inputs.duckdb_con()
        try:
            for t in CATALOG_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
            for q in todo:
                res = con.execute(oracles[q])
                cols = [d[0] for d in res.description]
                order = sorted(range(len(cols)), key=lambda i: cols[i])
                rows = res.fetchall()
                cache[key[q]] = [sorted(cols), *digest(tuple(r[i] for i in order) for r in rows)]
        finally:
            con.close()
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, path)
    return {q: cache[key[q]] for q in oracles}


def spark_digest(df) -> list:
    cols = sorted(df.columns)
    return [cols, *digest(tuple(r[c] for c in cols) for r in df.collect())]
