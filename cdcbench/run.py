"""CDC engine benchmark: one workload per run, one JSON result line.

    python3 cdcbench/run.py --workload mor_stream --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. Inputs are generated
from ``--seed`` (and cached) under ``.cdcbench_work/`` before the Spark
session starts; every file the run writes stays under that directory.
The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``:
with ``--trace 0`` the end-to-end metrics, with ``--trace 1`` the
per-layer metrics. The line before it is the run record: input ledger,
host-window diagnostic, errors and, for traced runs, the tracing
overhead. See cdcbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".cdcbench_work")
DRIVER_HEAP = "2g"

END_TO_END = [("setup_s", "s"), ("main_s", "s"), ("read_s", "s")]


def cpu_probe() -> float:
    """Seconds for a fixed single-threaded pure-Python loop (no Spark)."""
    t = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc += i * i
    return time.perf_counter() - t


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(a: list[int], b: list[int]) -> float:
    d = [y - x for x, y in zip(a, b)]
    return d[7] / max(sum(d), 1) if len(d) > 7 else 0.0


def start_session(cores: int):
    from open_bus_gtfs_etl_spark.session import get_spark

    local = os.path.join(WORK, "spark-local")
    os.makedirs(local, exist_ok=True)
    return get_spark(
        app_name="cdcbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_HEAP,
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def become_subreaper() -> None:
    """Have orphans of the session's processes (the JVM's children once
    the JVM exits) re-parented to this process, so it can wait for them."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def descendants() -> set[int]:
    """Pids of every process below this one, zombies included, from /proc.
    (A JVM whose main thread has ended shows as a zombie while its other
    threads still run, so a zombie is not taken for an ended process.)"""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = set(), [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                return
        except ChildProcessError:
            return


def stop_session(spark) -> None:
    """Stop Spark and its gateway JVM, then wait until every process the
    session started (the JVM, its Python workers, the launcher's shells)
    has ended and been reaped; stragglers are terminated after 30 s and
    killed 10 s later. PySpark alone leaves the JVM to notice its closed
    stdin only after Python has exited."""
    from pyspark import SparkContext

    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    try:
        if spark is not None:
            spark.stop()
    finally:
        gateway = SparkContext._gateway
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 - the JVM may already be gone
                pass
            SparkContext._gateway = SparkContext._jvm = None
            proc = getattr(gateway, "proc", None)
            if proc is not None and proc.stdin:
                proc.stdin.close()  # EOF on its stdin makes the JVM exit
        for sig, grace in ((None, 30), (signal.SIGTERM, 10), (signal.SIGKILL, 10)):
            live = descendants()
            for p in live if sig else ():
                try:
                    os.kill(p, sig)
                except OSError:
                    pass
            end = time.monotonic() + grace
            while live and time.monotonic() < end:
                time.sleep(0.05)
                reap()
                live = descendants()
            if not live:
                break


def code_hash() -> str:
    """Hash of the engine's and the benchmark's Python sources: untraced
    run records are kept per hash, so the tracing overhead compares runs
    of the same code."""
    h = hashlib.md5()
    for pkg in ("open_bus_gtfs_etl_spark", "cdcbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, pkg))):
            dirs.sort()
            for n in sorted(files):
                if n.endswith(".py"):
                    path = os.path.join(d, n)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:12]


def records_path(workload: str) -> str:
    return os.path.join(WORK, "records", f"{workload}-{code_hash()}.jsonl")


def untraced_history(workload: str) -> list[dict]:
    path = records_path(workload)
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import open_bus_gtfs_etl_spark  # noqa: F401 - the engine under test
    except ImportError as e:
        print(f"cdcbench: engine package not found under {ROOT}: {e}", file=sys.stderr)
        return 2
    # UTC everywhere: Spark's session zone, Python's datetimes, DuckDB's
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"cdcbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    prepare, run = workloads.WORKLOADS[args.workload]

    probe_before, stat_before = cpu_probe(), cpu_times()
    t_gen = time.perf_counter()
    inp = prepare(os.path.join(WORK, "inputs"), args.seed)
    gen_s = time.perf_counter() - t_gen

    cores = max(1, min(4, os.cpu_count() or 1))
    become_subreaper()
    # a SIGTERM ends the run through the finally below, which stops Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(cores)
        spark.range(1).count()
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark, on=bool(args.trace))
        run_dir = os.path.join(WORK, "run")
        os.makedirs(run_dir, exist_ok=True)
        ctx = workloads.Ctx(spark, tracer, run_dir, args.seconds)
        t_run = time.perf_counter()
        out = run(ctx, inp)
    finally:
        t_stop = time.perf_counter()
        stop_session(spark)
    ctx.phases.update(input_s=gen_s, run_s=t_stop - t_run, stop_s=time.perf_counter() - t_stop)
    e2e = {
        "setup_s": session_s + out["setup_prefill_s"] + out["setup_warm_s"],
        "main_s": out["main_s"],
        "read_s": out["read_s"],
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores, "phases_s": ctx.phases,
        "ledger": out["ledger"],
        "setup_parts_s": {"session": session_s, "prefill": out["setup_prefill_s"],
                          "warm_up": out["setup_warm_s"]},
        "end_to_end": e2e,
        "main_walls_s": out["main_walls_s"],
        "peak_rss_mb": out["peak_rss_mb"],
        "host_window": {
            "cpu_probe_before_s": probe_before, "cpu_probe_after_s": cpu_probe(),
            "steal_frac": steal_frac(stat_before, cpu_times()),
        },
        "errors": ctx.errors[:10],
    }
    if "ingest_events_per_s" in out:
        record["ingest_events_per_s"] = out["ingest_events_per_s"]
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    if args.trace:
        ctx.layer["session.start_s"] = session_s
        ctx.layer["session.peak_rss_mb"] = out["peak_rss_mb"]
        hist = [r["end_to_end"] for r in untraced_history(args.workload)
                if r["seconds"] == args.seconds and not r["errors"]]
        if hist:
            record["tracing_overhead"] = {
                k: {"traced": e2e[k], "untraced_median": statistics.median(h[k] for h in hist),
                    "untraced_runs": len(hist)}
                for k in ("main_s", "read_s")
            }
        else:
            record["tracing_overhead"] = "no untraced run of this workload and code recorded yet"
        metrics = {n: {"value": float(ctx.layer.get(n, 0.0)), "unit": u}
                   for n, u in workloads.LAYER_METRICS}
    else:
        with open(records_path(args.workload), "a") as f:
            f.write(json.dumps(record) + "\n")
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END}
    print("cdcbench-record " + json.dumps(record, default=str))
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": max(1, ctx.attempted),
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
