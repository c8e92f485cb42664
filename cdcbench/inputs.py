"""Seeded benchmark inputs, generated outside any Spark session and cached.

Two kinds of input, both pure numpy + pyarrow so that generating them
never warms (or contends with) the JVM whose set-up time is measured:

- a CDC write-ahead log in the engine's WAL layout
  (``{wal}/v{1,2}/seg=N/part-00000.parquet`` + ``_SEGMENT.json``), with
  Zipf(1.2) conversation keys, geometric(12) turns per conversation,
  2% duplicate deliveries (re-sent one segment later), 2% out-of-order
  deliveries (deferred one segment), 5% deletes / 25% updates, and a
  schema v1 -> v2 split (v1 files have no ``tool`` column);
- the ten catalog tables the query catalog reads (TPC-H-like star
  schema + ``events``, ``documents``, ``embeddings``), shaped like the
  repository's test data (TESTDATA.md) at a chosen size.

Every input directory carries a ledger of its shape. The ledger is
written from the generator's own arrays and re-counted from the files
with DuckDB every time the directory is loaded, so a truncated or stale
cache entry is detected rather than benchmarked.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LEDGER = "_LEDGER.json"
MAX_CACHED = 24  # input dirs kept per checkout (oldest evicted first)

BASE_EPOCH_US = int(datetime(2026, 1, 1, tzinfo=timezone.utc).timestamp()) * 1_000_000
WAL_V1 = pa.schema([
    ("lsn", pa.int64()), ("op", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
    ("schema_ver", pa.int32()), ("conv_id", pa.string()), ("turn_idx", pa.int32()),
    ("role", pa.string()), ("text", pa.string()),
])
WAL_V2 = WAL_V1.append(pa.field("tool", pa.string()))


def duckdb_con():
    """A DuckDB connection that prints nothing (no progress bar)."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def source_hash() -> str:
    """Hash of this generator's source: part of every cache key."""
    with open(__file__, "rb") as f:
        return hashlib.md5(f.read()).hexdigest()[:12]


# ----------------------------------------------------------------- cache
def cached(cache_root: str, name: str, build, recount) -> tuple[str, dict]:
    """Return ``(dir, ledger)`` for input ``name``, building it with
    ``build(dir) -> ledger`` unless a cached copy's ledger re-counts
    equal (``recount(dir) -> ledger``). A cached copy that does not
    re-count equal is rebuilt once; a fresh build that does not is an
    error."""
    d = os.path.join(cache_root, f"{name}-{source_hash()}")
    led_path = os.path.join(d, LEDGER)
    if os.path.exists(led_path):
        with open(led_path) as f:
            want = json.load(f)
        if recount(d) == want:
            os.utime(d)
            return d, want
    shutil.rmtree(d, ignore_errors=True)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    want = build(tmp)
    got = recount(tmp)
    if got != want:
        raise RuntimeError(f"input ledger mismatch for {name}: generator {want} files {got}")
    with open(os.path.join(tmp, LEDGER), "w") as f:
        json.dump(want, f, sort_keys=True)
    os.replace(tmp, d)
    _evict(cache_root, keep=d)
    return d, want


def _evict(cache_root: str, keep: str) -> None:
    dirs = [
        os.path.join(cache_root, n) for n in os.listdir(cache_root)
        if os.path.exists(os.path.join(cache_root, n, LEDGER))
    ]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[MAX_CACHED:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


# ------------------------------------------------------------------- WAL
def build_wal(
    root: str, seed: int, seg_sizes: list[int], n_conv: int, v2_start_lsn: int,
    dup_rate: float = 0.02, ooo_rate: float = 0.02, delete_rate: float = 0.05,
    update_rate: float = 0.25, skew_s: float = 1.2,
) -> dict:
    """Write a WAL whose segment ``i`` holds the ``seg_sizes[i]`` events
    after those of segments ``< i`` (plus late and duplicate deliveries
    pushed one segment on; the last segment's spill lands in one extra
    trailing segment). Returns the generator-side ledger."""
    rng = np.random.default_rng([seed, 1])
    n = int(sum(seg_sizes))
    lsn = np.arange(n, dtype=np.int64)
    bounds = np.cumsum([0] + list(seg_sizes))
    base_seg = np.searchsorted(bounds, lsn, side="right") - 1

    # Zipf(s) conversation rank by the bounded-Pareto inverse CDF
    u = rng.random(n)
    one_ms = 1.0 - skew_s
    rank = np.floor((u * (float(n_conv) ** one_ms - 1.0) + 1.0) ** (1.0 / one_ms))
    rank = np.clip(rank, 1, n_conv).astype(np.int64)
    n_turns = np.clip(np.ceil(np.log(1.0 - rng.random(n_conv + 1)) * -12.0), 1, 512)
    turn = np.floor(rng.random(n) * n_turns[rank]).astype(np.int32)

    u_op = rng.random(n)
    is_del = u_op < delete_rate
    op = np.where(is_del, "delete", np.where(u_op < delete_rate + update_rate, "update", "insert"))
    ver = np.where(lsn < v2_start_lsn, 1, 2).astype(np.int32)
    role_pick = rng.integers(0, 4, n)
    roles = np.array(["user", "assistant", "system", "tool"], dtype=object)
    role = np.where(ver == 1, roles[role_pick % 2], roles[role_pick])
    role = np.where(is_del, None, role)
    tool = np.where(
        (ver == 2) & (role == "tool"),
        np.char.add("tool-", np.char.zfill(rng.integers(0, 20, n).astype(str), 2)),
        None,
    )
    # text: a distinct slice of a seeded hex pool, 10..500 characters
    pool = rng.bytes(1 << 20).hex()
    tlen = rng.integers(10, 501, n)
    toff = rng.integers(0, len(pool) - 2000, n)
    text = np.array(
        [None if d else pool[o:o + k] for d, o, k in zip(is_del, toff, tlen)], dtype=object
    )
    conv = np.char.add("conv-", np.char.zfill(rank.astype(str), 12))
    ts = BASE_EPOCH_US + lsn * 1_000_000

    deferred = rng.random(n) < ooo_rate
    seg = base_seg + deferred
    dup = rng.random(n) < dup_rate
    # a row index per delivery: every event once, duplicates once more
    idx = np.concatenate([lsn, lsn[dup]])
    dseg = np.concatenate([seg, seg[dup] + 1])
    for s in np.unique(dseg):
        rows = idx[dseg == s]
        for v, schema in ((1, WAL_V1), (2, WAL_V2)):
            r = rows[ver[rows] == v]
            if not len(r):
                continue
            cols = {
                "lsn": lsn[r], "op": op[r], "ts": ts[r], "schema_ver": ver[r],
                "conv_id": conv[r], "turn_idx": turn[r], "role": role[r], "text": text[r],
                "tool": tool[r],
            }
            tbl = pa.table({f.name: pa.array(cols[f.name], type=f.type) for f in schema},
                           schema=schema)
            d = os.path.join(root, f"v{v}", f"seg={int(s)}")
            os.makedirs(d)
            pq.write_table(tbl, os.path.join(d, "part-00000.parquet"))
            with open(os.path.join(d, "_SEGMENT.json"), "w") as f:
                json.dump({"seg": int(s), "ver": f"v{v}", "n_rows": len(r)}, f)
    keys = rank * 1024 + turn
    return {
        "rows": int(len(idx)),
        "dups": int(dup.sum()),
        "ooo": int(deferred.sum()),
        "deletes": int(is_del.sum()),
        "distinct_keys": int(len(np.unique(keys))),
        "v1_rows": int((ver[idx] == 1).sum()),
        "v2_rows": int((ver[idx] == 2).sum()),
        "segments": sorted(int(s) for s in np.unique(dseg)),
    }


def wal_sql(wal: str, max_seg: int | None = None) -> str:
    """DuckDB relation over every delivery in ``wal`` (both schema
    versions, ``seg`` from the directory name), optionally only
    segments ``<= max_seg``."""
    where = "" if max_seg is None else f"WHERE seg <= {int(max_seg)}"
    return (
        f"(SELECT * FROM read_parquet('{wal}/v*/seg=*/*.parquet', "
        f"hive_partitioning = true, union_by_name = true) {where})"
    )


def recount_wal(root: str, seg_bounds: list[int]) -> dict:
    """Re-count a WAL's ledger from its files. ``seg_bounds`` are the
    first lsn of each generated segment (to tell late deliveries)."""
    con = duckdb_con()
    try:
        con.execute(f"CREATE VIEW ev AS SELECT *, CAST(seg AS BIGINT) AS s FROM {wal_sql(root)}")
        rows, v1, v2 = con.execute(
            "SELECT count(*), count(*) FILTER (schema_ver = 1), count(*) FILTER (schema_ver = 2)"
            " FROM ev").fetchone()
        first = con.execute(
            "SELECT lsn, min(s) AS s0, bool_or(op = 'delete') AS del FROM ev GROUP BY lsn"
        ).fetchnumpy()
        keys = con.execute("SELECT count(*) FROM (SELECT DISTINCT conv_id, turn_idx FROM ev)").fetchone()[0]
        segs = [r[0] for r in con.execute("SELECT DISTINCT s FROM ev ORDER BY s").fetchall()]
    finally:
        con.close()
    base = np.searchsorted(np.asarray(seg_bounds), first["lsn"], side="right") - 1
    return {
        "rows": int(rows),
        "dups": int(rows - len(first["lsn"])),
        "ooo": int((first["s0"] > base).sum()),
        "deletes": int(first["del"].sum()),
        "distinct_keys": int(keys),
        "v1_rows": int(v1),
        "v2_rows": int(v2),
        "segments": [int(x) for x in segs],
    }


def wal(cache_root: str, tag: str, seed: int, seg_sizes: list[int], n_conv: int,
        v2_start_lsn: int) -> tuple[str, dict]:
    """Cached WAL named by ``tag`` + seed + shape."""
    shape = hashlib.md5(json.dumps([seg_sizes, n_conv, v2_start_lsn]).encode()).hexdigest()[:8]
    bounds = [int(b) for b in np.cumsum([0] + list(seg_sizes))[:-1]]
    return cached(
        cache_root, f"wal-{tag}-s{seed}-{shape}",
        lambda d: build_wal(d, seed, seg_sizes, n_conv, v2_start_lsn),
        lambda d: recount_wal(d, bounds),
    )


# --------------------------------------------------------------- catalog
CATALOG_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()


def _day_us(y: int, m: int, d: int) -> int:
    return int(datetime(y, m, d, tzinfo=timezone.utc).timestamp()) * 1_000_000


def build_catalog(root: str, seed: int, sf: float) -> dict:
    """Write the ten catalog tables at scale ``sf`` (sf=0.01 ~ 60k
    lineitem rows, 500 documents, 500 embeddings). Returns row counts."""
    rng = np.random.default_rng([seed, 2])
    day = 86_400_000_000
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_user = int(50_000 * sf), int(50_000 * sf), max(10, int(15_000 * sf))
    ts_us = pa.timestamp("us")

    def money(lo, hi, k):
        return np.round(rng.uniform(lo, hi, k), 2)

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    adj = np.array(["small", "red", "blue", "hot", "big", "green", "cold", "old"])
    noun = np.array(["ring", "widget", "bolt", "gear", "plate", "nut", "pipe", "valve"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    o_start, o_days = _day_us(1995, 1, 1), 2404
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(o_start + rng.integers(0, o_days, n_ord) * day, ts_us),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(o_start + day + rng.integers(0, o_days + 95, n_li) * day, ts_us),
    })
    ev_ts = np.sort(rng.integers(0, 30 * day, n_ev)) + _day_us(2024, 1, 1)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_ts, ts_us),
        "user_id": pa.array(rng.integers(0, n_user, n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    words = np.array(_WORDS)
    docs = [list(words[rng.integers(0, len(words), k)]) for k in rng.integers(8, 100, n_doc)]
    # every fifth document is a near-duplicate of an earlier one (one
    # word swapped), so the near-dup queries find pairs at every scale
    for i in range(5, n_doc, 5):
        d = list(docs[rng.integers(0, i)])
        d[rng.integers(0, len(d))] = "dup"
        docs[i] = d
    texts = [" ".join(d) for d in docs]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "en", "en", "de", "es", "fr", "zh"])[rng.integers(0, 7, n_doc)],
        "source": np.char.add("src", (np.arange(n_doc) % 20).astype(str)),
        "n_chars": pa.array([len(x) for x in texts], pa.int32()),
    })
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int64()),
    })
    for name in CATALOG_TABLES:
        pq.write_table(t[name], os.path.join(root, f"{name}.parquet"))
    return {name: t[name].num_rows for name in CATALOG_TABLES}


def recount_catalog(root: str) -> dict:
    return {
        name: pq.ParquetFile(os.path.join(root, f"{name}.parquet")).metadata.num_rows
        for name in CATALOG_TABLES
        if os.path.exists(os.path.join(root, f"{name}.parquet"))
    }


def catalog(cache_root: str, seed: int, sf: float) -> tuple[str, dict]:
    return cached(
        cache_root, f"catalog-s{seed}-sf{sf:g}",
        lambda d: build_catalog(d, seed, sf),
        recount_catalog,
    )
