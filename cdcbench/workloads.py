"""The two workloads. Each runs one closed loop on the driver thread:
a call starts only after the previous one returned, as the engine's
single-writer design has the caller wait for each commit.

Every workload returns the same end-to-end figures (see README.md for
what "main" and "read" mean on each) and, when traced, the per-layer
figures of ``LAYER_METRICS``; a layer a workload bypasses reports 0.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time

import check
import inputs

KEY_COLS = ["conv_id", "turn_idx"]
N_BUCKETS = 16

# mor_stream: a 30k-event bootstrap segment, then 2k-event segments
# staged one per epoch; schema v2 starts with segment v2_seg. After the
# bootstrap, v1 files hold only late v1 events: the ones deferred from
# segment 0 (in segment 1) and the duplicates of those (in segment 2).
# A segment with both versions is published by two renames, which the
# running tailer may apply as one micro-batch or two, so every segment
# with v1 files is staged in set-up and kept out of the timed loop.
# auto_compact=4 folds a bucket
# into its base when an epoch would give it a 5th delta. A run times at
# least min_cycles whole compaction cycles.
MOR = {"prefill": 30_000, "seg": 2_000, "n_segs": 40, "n_conv": 6_000, "v2_seg": 1,
       "auto_compact": 4, "min_cycles": 2}
# catalog: the warm-up pass (with the oracle check) and the timed
# passes read the same tables; a run makes at least min_passes timed
# passes, so the heavy-set median has that many samples and every leaf
# half as many
CATALOG = {"sf": 0.003, "min_passes": 4}
HEAVY = ["d4_simhash_near_dups", "e4_knn_graph"]
# ten of the frozen bench.py's 14 leaves, one or two per operator family
# (j7_two_hop, j9b_asof_window, d1_exact_dedup and t3_fingerprint are
# left out to fit the run budget; see README.md). A timed pass runs the
# heavy set and every other leaf, alternating halves.
LEAVES = [
    "a1_outcome_rollup", "j8_chain4_threshold", "j9_asof", "w1_top1_per_key",
    "w3_session_starts", "m1_cdc_final_state", "s1_tumbling_window", "d2_ngram_jaccard",
    "t1_quality_score", "e1_cosine_topk",
]

LAYER_METRICS = [
    ("session.start_s", "s"),
    ("session.peak_rss_mb", "MB"),
    ("merge.prefill_s", "s"),
    ("merge.apply_p50_s", "s"),
    ("merge.self_p50_s", "s"),
    ("merge.jobs_per_batch", "count"),
    ("merge.events_per_s", "1/s"),
    ("dedup.kernel_p50_s", "s"),
    ("dedup.winner_ratio", "ratio"),
    ("lake.merge_p50_s", "s"),
    ("lake.commit_tail_p50_s", "s"),
    ("lake.exec_cpu_per_event_us", "us"),
    ("lake.gc_frac", "ratio"),
    ("lake.shuffle_bytes_per_event", "B"),
    ("lake.spill_bytes", "B"),
    ("lake.bytes_written_per_event", "B"),
    ("lake.buckets_rewritten", "count"),
    ("lake.compact_p50_s", "s"),
    ("lake.compact_bytes", "B"),
    ("lake.expire_p50_s", "s"),
    ("lake.scan_p50_s", "s"),
    ("lake.scan_files", "count"),
    ("lake.delta_depth_max", "count"),
    ("lake.lookup_p50_s", "s"),
    ("lake.lookup_p90_s", "s"),
    ("lake.lookup_files", "count"),
    ("lake.changelog_p50_s", "s"),
    ("lake.changelog_buckets", "count"),
    ("lake.bytes_live_per_row", "B"),
    ("lake.manifest_bytes", "B"),
    ("tailer.epoch_p50_s", "s"),
    ("tailer.overhead_p50_s", "s"),
    ("tailer.files_listed", "count"),
    ("lineage.record_p50_s", "s"),
    ("query.leaf_plan_s", "s"),
    ("query.cached_blocks_max", "count"),
] + [
    (f"query.{q}.{m}", u)
    for q in HEAVY
    for m, u in (("wall_s", "s"), ("exec_cpu_s", "s"), ("shuffle_bytes", "B"))
]


def p50(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    return statistics.quantiles(xs, n=10)[-1] if len(xs) >= 2 else p50(xs)


def noop(df) -> None:
    """Run ``df`` to completion without collecting it."""
    df.write.format("noop").mode("overwrite").save()


class Ctx:
    """What a workload needs from the run: session, tracer, work dir,
    run length; it collects op counts, errors and per-layer figures."""

    def __init__(self, spark, tracer, work: str, seconds: float):
        self.spark, self.tr = spark, tracer
        self.work, self.seconds = work, seconds
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.layer: dict[str, float] = {}
        self.phases: dict[str, float] = {}  # wall of timed loop and check

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        self.errors.append(what)


# ------------------------------------------------------------------ lake
def _wal_inputs(cache: str, seed: int) -> tuple[str, dict, str, str]:
    p = MOR
    sizes = [p["prefill"]] + [p["seg"]] * p["n_segs"]
    v2_start = p["prefill"] + (p["v2_seg"] - 1) * p["seg"]
    wal, ledger = inputs.wal(cache, "mor", seed, sizes, p["n_conv"], v2_start)
    con = inputs.duckdb_con()
    try:
        # hottest key by construction (Zipf rank 1) and the coldest key
        # the bootstrap segment holds
        cold = con.execute(
            f"SELECT max(conv_id) FROM {inputs.wal_sql(wal)} WHERE seg = 0").fetchone()[0]
    finally:
        con.close()
    return wal, ledger, "conv-000000000001", cold


class Reads:
    """The read calls run after a write: a full scan and snapshot expiry
    every time; with ``point``, also hot and cold point lookups and the
    batch's changelog."""

    def __init__(self, ctx: Ctx, table, hot: str, cold: str):
        self.ctx, self.table, self.hot, self.cold = ctx, table, hot, cold
        self.walls: dict[str, list[float]] = {k: [] for k in ("scan", "lookup", "changelog", "expire")}
        self.last_lookup: dict[str, list] = {}
        self.lookup_seg = 0  # segment after which last_lookup was read
        self.counts: dict[str, list[int]] = {k: [] for k in (
            "scan_files", "lookup_files", "changelog_buckets", "delta_depth")}

    def run(self, it: int, v_from: int, point: bool) -> int:
        """The read set after segment ``it``; the changelog spans
        snapshots ``v_from`` to now. Returns the number of calls."""
        tr, t = self.ctx.tr, self.table
        with tr.span("lake.read", batch=it) as sp:
            noop(t.read())
        self.walls["scan"].append(sp.wall)
        if tr.on:
            m = t.manifest()
            self.counts["scan_files"].append(len(t.read().inputFiles()))
            self.counts["delta_depth"].append(max((len(v) for v in m["deltas"].values()), default=0))
        if point:
            for key in (self.hot, self.cold):
                with tr.span("lake.lookup", batch=it, key=key) as sp:
                    self.last_lookup[key] = check.spark_rows(t.lookup({"conv_id": key}))
                self.walls["lookup"].append(sp.wall)
            self.lookup_seg = it
            v_to = t.snapshot_id()
            with tr.span("lake.changelog", batch=it) as sp:
                noop(t.changes_between(v_from, v_to))
            self.walls["changelog"].append(sp.wall)
            if tr.on:
                self.counts["lookup_files"].append(len(t.lookup({"conv_id": self.cold}).inputFiles()))
                self.counts["changelog_buckets"].append(_changed_buckets(t, v_from, v_to))
        with tr.span("lake.expire", batch=it) as sp:
            t.expire_snapshots(keep_last=2)
        self.walls["expire"].append(sp.wall)
        return 5 if point else 2

    def layer(self) -> dict:
        w, c = self.walls, self.counts
        return {
            "lake.scan_p50_s": p50(w["scan"]),
            "lake.lookup_p50_s": p50(w["lookup"]),
            "lake.lookup_p90_s": p90(w["lookup"]),
            "lake.changelog_p50_s": p50(w["changelog"]),
            "lake.expire_p50_s": p50(w["expire"]),
            "lake.scan_files": p50(c["scan_files"]),
            "lake.lookup_files": p50(c["lookup_files"]),
            "lake.changelog_buckets": p50(c["changelog_buckets"]),
            "lake.delta_depth_max": max(c["delta_depth"], default=0),
        }


def _refs(m: dict) -> dict:
    keys = set(m["buckets"]) | set(m.get("deltas", {}))
    return {b: (m["buckets"].get(b), tuple(m.get("deltas", {}).get(b, []))) for b in keys}


def _changed_buckets(table, v_from: int, v_to: int) -> int:
    a, b = _refs(table.manifest_at(v_from)), _refs(table.manifest_at(v_to))
    return sum(1 for k in set(a) | set(b) if a.get(k) != b.get(k))


def _storage(table) -> dict:
    """Bytes of live data files per live row, and the manifest's size."""
    m = table.manifest()
    rels = list(m["buckets"].values()) + [r for v in m.get("deltas", {}).values() for r in v]
    size = 0
    for rel in rels:
        d = os.path.join(table.root, rel)
        for n in os.listdir(d) if os.path.isdir(d) else []:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(d, n))
    live = table.read().count()
    with open(os.path.join(table.root, "manifest", "CURRENT")) as f:
        cur = f.read().strip()
    return {
        "lake.bytes_live_per_row": size / max(live, 1),
        "lake.manifest_bytes": os.path.getsize(os.path.join(table.root, "manifest", cur)),
    }


def _check_state(ctx: Ctx, table, reads: Reads, wal: str, last_seg: int) -> None:
    """The table after segment ``last_seg`` and the last lookups against
    the DuckDB fold of the WAL up to the segment each was read after."""
    want = check.fold(wal, last_seg)
    diff = check.state_diff(check.spark_rows(table.read()), want)
    if diff:
        ctx.fail(f"final state after segment {last_seg}: {diff}")
    if reads.lookup_seg != last_seg:
        want = check.fold(wal, reads.lookup_seg)
    for key, rows in reads.last_lookup.items():
        diff = check.state_diff(rows, want, conv_id=key)
        if diff:
            ctx.fail(f"lookup {key}: {diff}")


def _merge_layer(ctx: Ctx, parents: list, events: int) -> dict:
    """lake.* figures of the table.merge spans under ``parents``."""
    tr = ctx.tr
    merges = [c for p in parents for c in tr.children(p) if c.name == "lake.merge"]
    sums = [tr.stage_sum(s) for s in merges]
    tot = {k: sum(s[k] for s in sums) for k in sums[0]} if sums else {}
    tails = []
    for s in merges:
        done = [j.done for j in tr.jobs_in(s)]
        if done:
            tails.append(s.end - max(done))
    # compact() with no bucket over the bound returns without a job
    compact_runs = [c for p in parents for c in tr.children(p)
                    if c.name == "lake.compact" and tr.jobs_in(c)]
    ev = max(events, 1)
    return {
        "lake.merge_p50_s": p50([s.wall for s in merges]),
        "lake.commit_tail_p50_s": p50(tails),
        "lake.exec_cpu_per_event_us": tot.get("executorCpuTime", 0) / 1e3 / ev,
        "lake.gc_frac": tot.get("jvmGcTime", 0) / max(tot.get("executorRunTime", 0), 1),
        "lake.shuffle_bytes_per_event": tot.get("shuffleWriteBytes", 0) / ev,
        "lake.spill_bytes": tot.get("memoryBytesSpilled", 0) + tot.get("diskBytesSpilled", 0),
        "lake.bytes_written_per_event": tot.get("outputBytes", 0) / ev,
        "lake.compact_p50_s": p50([c.wall for c in compact_runs]),
        "lake.compact_bytes": p50([tr.stage_sum(c)["outputBytes"] for c in compact_runs]),
    }


def _dedup_kernel(ctx: Ctx, table, wal: str, seg: int) -> float:
    """Standalone LWW kernel on the batch just applied (traced runs),
    called as the tailer's ``apply_batch`` calls it on a bucketed table:
    winner counters carried, broadcast sized from the manifest's winner
    count, tie-break clustered by the bucket expression."""
    from open_bus_gtfs_etl_spark.genlog import read_wal_segment
    from open_bus_gtfs_etl_spark.operators.dedup import lww_dedup_argmax_lsn
    from open_bus_gtfs_etl_spark.operators.merge import align_to_schema, resolve_broadcast_keys
    from open_bus_gtfs_etl_spark.sources.lake import BUCKET_COL, bucket_expr

    batch = align_to_schema(read_wal_segment(ctx.spark, wal, seg), table.stored_schema())
    with ctx.tr.span("dedup.kernel", batch=seg) as sp:
        noop(lww_dedup_argmax_lsn(
            batch, KEY_COLS, ["role", "text", "tool", "op", "lsn", "ts"], carry_stats=True,
            broadcast_keys=resolve_broadcast_keys(table),
            cluster_expr=bucket_expr(KEY_COLS[0], N_BUCKETS), cluster_col=BUCKET_COL,
            cluster_partitions=N_BUCKETS))
    return sp.wall


def _winner_ratio(st: dict) -> float | None:
    n = st.get("n_source_rows")
    if not n or st.get("rows_deduped") is None:
        return None
    return (n - st["rows_deduped"]) / n


def _stage_segment(wal: str, stage: str, seg: int) -> int:
    """Publish WAL segment ``seg`` into the tailer's watched directory:
    hard-link its files into a temp dir, then rename the dir into place
    so the file source never lists a half-staged segment."""
    n = 0
    for v in ("v1", "v2"):
        src = os.path.join(wal, v, f"seg={seg}")
        if not os.path.isdir(src):
            continue
        tmp = os.path.join(stage, f".tmp-{v}-{seg}")
        os.makedirs(tmp)
        for f in os.listdir(src):
            if f.endswith(".parquet"):
                os.link(os.path.join(src, f), os.path.join(tmp, f))
                n += 1
        os.rename(tmp, os.path.join(stage, v, f"seg={seg}"))
    return n


def mor_stream(ctx: Ctx, inp) -> dict:
    from open_bus_gtfs_etl_spark.operators.merge import replay_wal
    from open_bus_gtfs_etl_spark.schema import TRANSCRIPTS_SCHEMA
    from open_bus_gtfs_etl_spark.sources.lake import SnapshotParquetTable
    from open_bus_gtfs_etl_spark.streaming.lineage import LineageLog
    from open_bus_gtfs_etl_spark.streaming.tailer import start_multi_tailer

    p = MOR
    wal, ledger, hot, cold = inp
    for d in ("mor", "stage", "lineage", "ckpt"):
        shutil.rmtree(os.path.join(ctx.work, d), ignore_errors=True)
    t0 = time.perf_counter()
    with ctx.tr.span("merge.prefill") as prefill:
        table = SnapshotParquetTable.create(
            ctx.spark, os.path.join(ctx.work, "mor"), TRANSCRIPTS_SCHEMA, key_cols=KEY_COLS,
            n_buckets=N_BUCKETS, mode="mor")
        replay_wal(ctx.spark, table, wal, [0])
    ctx.tr.wrap(table, "merge", "lake.merge")
    ctx.tr.wrap(table, "compact", "lake.compact")
    stage = os.path.join(ctx.work, "stage")
    for v in ("v1", "v2"):
        os.makedirs(os.path.join(stage, v))
    lineage = LineageLog(ctx.spark, os.path.join(ctx.work, "lineage"))
    os.makedirs(lineage.root, exist_ok=True)
    applied = []  # the apply_batch stats of every epoch, as lineage receives them
    record = lineage.record

    def keep_stats(batch_id, stat, *a, **kw):
        applied.append(stat)
        return record(batch_id, stat, *a, **kw)

    lineage.record = keep_stats
    ctx.tr.wrap(lineage, "record", "lineage.record")
    query = start_multi_tailer(ctx.spark, table, stage, os.path.join(ctx.work, "ckpt"),
                               versions=[1, 2], lineage=lineage, auto_compact=p["auto_compact"])
    prefill_s = time.perf_counter() - t0

    def depth() -> int:
        return max((len(v) for v in table.manifest()["deltas"].values()), default=0)

    later = [s for s in ledger["segments"] if s > 0]
    v1_segs = [int(d.split("=", 1)[1]) for d in os.listdir(os.path.join(wal, "v1"))]
    n_warm_segs = sum(1 for s in later if s <= max(v1_segs + [later[0]]))
    warm_segs, segs = later[:n_warm_segs], later[n_warm_segs:]
    warm_seg = warm_segs[-1]
    epochs, progress, listed, buckets, kernels, events = [], [], [], [], [], 0
    try:
        # warm-up: one epoch over the segments with v1 files, with its
        # read set, then a compaction of every bucket, pay the first-call
        # costs of the streaming, merge, read and compaction paths; the
        # timed loop then starts at delta depth 0 and stages v2-only
        # segments, so each of its cycles is auto_compact + 1 epochs
        t_warm = time.perf_counter()
        v_from = table.snapshot_id()
        for seg in warm_segs:
            _stage_segment(wal, stage, seg)
        with ctx.tr.span("tailer.warm", batch=warm_seg):
            query.processAllAvailable()
        Reads(ctx, table, hot, cold).run(warm_seg, v_from, point=True)
        table.compact()
        warm_s = time.perf_counter() - t_warm
        n_warm = len(applied)
        seen_batch = max((q.batchId for q in query.recentProgress), default=-1)
        reads = Reads(ctx, table, hot, cold)
        last, d_prev, cycles, pointed = warm_seg, depth(), 0, False
        # one epoch per segment, each followed by a scan; the point reads
        # run once per compaction cycle, at the first epoch whose delta
        # depth reaches auto_compact - 1. The loop stops only at the end of a cycle (the
        # epoch whose delta depth drops), so every run samples the same
        # mix of depths, and only after min_cycles of them.
        deadline = time.perf_counter() + ctx.seconds
        for seg in segs:
            v_from = table.snapshot_id()
            _stage_segment(wal, stage, seg)
            try:
                with ctx.tr.span("tailer.epoch", batch=seg) as sp:
                    query.processAllAvailable()
                last = seg
                if ctx.tr.on:
                    buckets.append(_changed_buckets(table, v_from, table.snapshot_id()))
                d = depth()
                point = not pointed and d >= p["auto_compact"] - 1
                pointed = pointed or point
                ctx.attempted += 1 + reads.run(seg, v_from, point=point)
            except Exception as e:  # noqa: BLE001 - a failed op ends the loop, counted
                ctx.attempted += 1
                ctx.fail(f"epoch for segment {seg}: {type(e).__name__}: {e}")
                break
            new = [q for q in query.recentProgress if q.batchId > seen_batch and q.numInputRows]
            seen_batch = max([q.batchId for q in query.recentProgress] + [seen_batch])
            epochs.append(sp.wall)
            events += sum(q.numInputRows for q in new)
            progress.append((sp, new))
            if ctx.tr.on:
                listed.append(sum(len(fs) for _, _, fs in os.walk(stage)))
                kernels.append(_dedup_kernel(ctx, table, wal, seg))
                ctx.tr.collect()
            if d < d_prev:
                cycles, pointed = cycles + 1, False
                if cycles >= p["min_cycles"] and time.perf_counter() >= deadline:
                    break
            d_prev = d
        else:
            ctx.errors.append(f"note: ran out of WAL segments after {len(segs)}")
    finally:
        query.stop()
    ctx.phases["timed_s"] = time.perf_counter() - deadline + ctx.seconds
    rss = jvm_peak_rss_mb(ctx.spark)
    t_check = time.perf_counter()
    if not ctx.failed:
        _check_state(ctx, table, reads, wal, last)
    ctx.phases["check_s"] = time.perf_counter() - t_check
    out = {
        "setup_prefill_s": prefill_s,
        "setup_warm_s": warm_s,
        # mean, not median: epoch walls are bimodal (most near 1 s; the
        # compacting ones and a few others near 2 s), and which side of
        # the gap the median lands on depends on the seed
        "main_s": statistics.fmean(epochs),
        "main_walls_s": epochs,
        "read_s": p50(reads.walls["scan"]),
        "peak_rss_mb": rss,
        "ingest_events_per_s": events / max(sum(epochs), 1e-9),
        "ledger": ledger,
    }
    if ctx.tr.on:
        tr = ctx.tr
        tr.collect()
        spans = [sp for sp, _ in progress]
        add_batch = [sum(q.durationMs.get("addBatch", 0) for q in new) / 1e3 for _, new in progress]
        overhead = [
            sum(q.durationMs.get("triggerExecution", 0) - q.durationMs.get("addBatch", 0)
                for q in new) / 1e3
            for _, new in progress
        ]
        records = [c for s in spans for c in tr.children(s) if c.name == "lineage.record"]
        inner = [sum(c.wall for c in tr.children(s)) for s in spans]
        ctx.layer.update(reads.layer())
        ctx.layer.update(_merge_layer(ctx, spans, events))
        ctx.layer.update(_storage(table))
        ctx.layer.update({
            "merge.prefill_s": prefill.wall,
            "merge.apply_p50_s": p50([a - sum(c.wall for c in tr.children(s)
                                              if c.name == "lineage.record")
                                      for a, s in zip(add_batch, spans)]),
            "merge.self_p50_s": p50([a - i for a, i in zip(add_batch, inner)]),
            "merge.jobs_per_batch": p50([len(tr.jobs_in(s)) for s in spans]),
            "merge.events_per_s": out["ingest_events_per_s"],
            "dedup.kernel_p50_s": p50(kernels),
            "dedup.winner_ratio": p50([r for r in map(_winner_ratio, applied[n_warm:])
                                       if r is not None]),
            "lake.buckets_rewritten": p50(buckets),
            "tailer.epoch_p50_s": p50(epochs),
            "tailer.overhead_p50_s": p50(overhead),
            "tailer.files_listed": p50(listed),
            "lineage.record_p50_s": p50([c.wall for c in records]),
        })
    return out


# --------------------------------------------------------------- catalog
def _cached_blocks(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.numCachedPartitions() for i in infos)


def _catalog_inputs(cache: str, seed: int):
    from open_bus_gtfs_etl_spark.plans.queries import ORACLES

    sf_dir, ledger = inputs.catalog(cache, seed, CATALOG["sf"])
    want = check.oracle_digests(sf_dir, {q: ORACLES[q] for q in HEAVY + LEAVES})
    return sf_dir, ledger, want


def geomean(xs) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs)) if xs else 0.0


def catalog(ctx: Ctx, inp) -> dict:
    from open_bus_gtfs_etl_spark.plans.queries import QUERIES

    names = HEAVY + LEAVES
    sf_dir, ledger, want = inp
    spark = ctx.spark
    # warm-up pass: every query once, results kept for the oracle
    # comparison below (outside any timed section)
    got, bad = {}, set()
    t0 = time.perf_counter()
    for q in names:
        spark.catalog.clearCache()
        try:
            with ctx.tr.span("query.warm", query=q):
                got[q] = check.spark_digest(QUERIES[q](spark, sf_dir))
        except Exception as e:  # noqa: BLE001 - counted as a failed query
            bad.add(q)
            ctx.errors.append(f"{q} (warm-up): {type(e).__name__}: {e}")
    warm_s = time.perf_counter() - t0
    walls: dict[str, list[float]] = {q: [] for q in names}
    heavy_pass = []
    deadline = time.perf_counter() + ctx.seconds
    while len(heavy_pass) < CATALOG["min_passes"] or time.perf_counter() < deadline:
        for q in HEAVY + LEAVES[len(heavy_pass) % 2::2]:
            spark.catalog.clearCache()
            ctx.attempted += 1
            try:
                with ctx.tr.span("query", query=q) as sp:
                    noop(QUERIES[q](spark, sf_dir))
            except Exception as e:  # noqa: BLE001 - counted as a failed query
                ctx.fail(f"{q}: {type(e).__name__}: {e}")
                continue
            walls[q].append(sp.wall)
            if ctx.tr.on:
                sp.attrs["cached_blocks"] = _cached_blocks(spark)
        heavy_pass.append(sum(walls[q][-1] for q in HEAVY if walls[q]))
        if ctx.failed:
            break
    ctx.phases["timed_s"] = time.perf_counter() - deadline + ctx.seconds
    rss = jvm_peak_rss_mb(spark)
    for q in names:
        if q in bad or got.get(q) != want[q]:
            ctx.fail(f"{q}: spark {got.get(q)} vs oracle {want[q]}", n=max(1, len(walls[q])))
    out = {
        "setup_prefill_s": 0.0,
        "setup_warm_s": warm_s,
        "main_s": p50(heavy_pass),
        "main_walls_s": heavy_pass,
        "read_s": geomean([p50(walls[q]) for q in LEAVES if walls[q]]),
        "peak_rss_mb": rss,
        "ledger": ledger,
    }
    if ctx.tr.on:
        tr = ctx.tr
        tr.collect()
        spans = tr.named("query")
        plan: dict[str, list[float]] = {q: [] for q in LEAVES}
        for sp in spans:
            jobs = tr.jobs_in(sp)
            if sp.attrs["query"] in plan and jobs:
                plan[sp.attrs["query"]].append(min(j.submit for j in jobs) - sp.start)
        ctx.layer["query.leaf_plan_s"] = sum(p50(v) for v in plan.values())
        ctx.layer["query.cached_blocks_max"] = max(
            (sp.attrs.get("cached_blocks", 0) for sp in spans), default=0)
        for q in HEAVY:
            qs = [sp for sp in spans if sp.attrs["query"] == q]
            sums = [tr.stage_sum(sp) for sp in qs]
            ctx.layer[f"query.{q}.wall_s"] = p50([sp.wall for sp in qs])
            ctx.layer[f"query.{q}.exec_cpu_s"] = p50([s["executorCpuTime"] / 1e9 for s in sums])
            ctx.layer[f"query.{q}.shuffle_bytes"] = p50([s["shuffleWriteBytes"] for s in sums])
    return out


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM, in MB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


# name -> (make inputs from (cache dir, seed), run on (Ctx, inputs))
WORKLOADS = {
    "mor_stream": (_wal_inputs, mor_stream),
    "catalog": (_catalog_inputs, catalog),
}
