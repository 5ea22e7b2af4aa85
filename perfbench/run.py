#!/usr/bin/env python3
"""Benchmark runner.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It starts one engine session
(``local[4]``, 1 GiB driver heap), makes the workload's inputs from the
seed, runs discarded warm rounds of every op kind, then runs whole
rounds of ops in a closed loop: as many rounds as fit ``--seconds`` at
the workload's nominal round length, so runs of equal length do equal
work. The round count is fixed before the run starts; a run whose planned
work would not end within the 180 s a run may take is refused up front.
Output checks run after each op, outside the timed region; a failed
check counts as a failed op.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end set (``END_TO_END``); with ``--trace 1`` they
are the per-layer set (``PER_LAYER``), read from spans and counters kept
in memory and written to ``.perfbench_work/traces/`` when the run ends.
The line before it carries host noise (steal share, load average, lock
wait), so a noisy run can be diagnosed from the output alone.

Everything the run writes stays under ``.perfbench_work/`` in the
checkout; the per-run data directory is removed at the end.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = 4
HEAP = "1g"
# nominal seconds of warm plus measured rounds a run may plan: session
# start, input generation and teardown take the rest of its 180 s
PLAN_LIMIT_S = 120.0
LOCK_WAIT_S = 60.0

END_TO_END = {
    "setup_s": "s",
    "ops_per_min": "1/min",
    "op_p50_s": "s",
    "cpu_s_per_op": "s",
}

_FAMILIES = ("composite", "aggregates", "windows", "joins", "sql_surface",
             "llm_curation", "llm_text", "llm_multimodal", "udfs")
PER_LAYER = {
    "session.get_spark_s": "s",
    "registry.load_all_s": "s",
    "decode.kernel_ms_per_mb": "ms/MB",
    "pipelines.process_run_s": "s",
    "pipelines.calibrate_s": "s",
    "pipelines.run_stats_s": "s",
    "pyds.readback_s": "s",
    "streaming.watch_s": "s",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "llm_dedup.merge_s": "s",
    "llm_dedup.retract_s": "s",
    "llm_dedup.indexed_query_s": "s",
    **{f"operators.{f}_s": "s" for f in _FAMILIES},
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.busy_share": "share",
    "storage.persisted_rdds": "count",
    "storage.memory_mb": "MB",
    "proc.jvm_cpu_s": "s",
    "proc.python_cpu_s": "s",
    "peak_rss_mb": "MB",
    "op_tail_s": "s",
    "op_tail_pct": "%",
    "op_samples": "count",
    "trace.op_p50_s": "s",
    "trace.ops_per_min": "1/min",
    "trace.cpu_s_per_op": "s",
    "trace.overhead_s_per_op": "s",
    "host.steal_share": "share",
    "host.loadavg": "load",
}


def p50_over_kinds(records: list[dict]) -> float:
    """Median latency of each op kind, then the geometric mean over kinds
    (with one kind, just its median). A plain median over a mix of
    unlike ops would jump between whichever two kinds sit in the middle."""
    by_kind: dict[str, list[float]] = {}
    for r in records:
        by_kind.setdefault(r["kind"], []).append(r["seconds"])
    meds = [statistics.median(v) for v in by_kind.values()]
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and
    its value; with fewer than 20 samples that is the median."""
    pct = max(50.0, 100.0 * (1 - 10 / len(values)))
    s = sorted(values)
    return pct, s[min(len(s) - 1, int(len(s) * pct / 100))]


def _others_running() -> list[int]:
    """Other benchmark runners on this host, in any checkout (not our own
    ancestors, which may be wrappers holding the same command line)."""
    ancestors, pid = set(), os.getpid()
    while pid > 1:
        ancestors.add(pid)
        try:
            with open(f"/proc/{pid}/stat") as fh:
                pid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            break
    out = []
    for p in os.listdir("/proc"):
        if not p.isdigit() or int(p) in ancestors:
            continue
        try:
            with open(f"/proc/{p}/cmdline", "rb") as fh:
                argv = fh.read().split(b"\0")
        except OSError:
            continue
        if any(a.endswith(b"perfbench/run.py") for a in argv) \
                and b"python" in os.path.basename(argv[0]):
            out.append(int(p))
    return out


def acquire_lock() -> tuple[object, float]:
    """Wait up to ``LOCK_WAIT_S`` for any other benchmark run to finish;
    refuse to start if one is still running. Returns (lock, seconds
    waited)."""
    os.makedirs(WORK, exist_ok=True)
    fh = open(os.path.join(WORK, "lock"), "w")
    t0 = time.monotonic()
    while True:
        try:
            fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
            if not _others_running():
                return fh, time.monotonic() - t0
            fcntl.flock(fh, fcntl.LOCK_UN)
        except BlockingIOError:
            pass
        if time.monotonic() - t0 > LOCK_WAIT_S:
            fh.close()
            raise SystemExit("perfbench: another benchmark run is still "
                             "running; refusing to start")
        time.sleep(1.0)


def _isolate(run_dir: str) -> dict[str, str]:
    """Point every scratch location of the engine into ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(TMPDIR=tmp, SPARK_LOCAL_DIRS=local,
                      SPARK_GRAFT_CPUS=str(CORES),
                      PYSPARK_PYTHON=sys.executable)
    tempfile.tempdir = None
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": HEAP,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop_engine(spark, tree) -> None:
    """Stop the session and wait for the JVM and every Python worker to
    end. Workers outlive the JVM briefly, re-parented away from this
    process, so they are waited for by pid rather than by tree."""
    from pyspark import SparkContext
    started = [p for p in tree.pids() if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()   # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline:
        rest = [p for p in started if _alive(p)]
        if not rest:
            return
        time.sleep(0.2)
    for pid in rest:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def run(args, wl, run_dir: str) -> tuple[dict, dict]:
    import numpy as np

    from perfbench.trace import (HostSample, ProcTree, RssSampler,
                                 SparkCounters, Tracer)
    from perfbench.workloads import Ctx

    conf = _isolate(run_dir)
    host, tree, tracer = HostSample(), ProcTree(), Tracer(bool(args.trace))
    t_start = time.perf_counter()
    records, warm, failures = [], [], []
    counters = None
    overhead_s = 0.0

    def do_op(ctx: Ctx, i: int, kind: str) -> dict:
        nonlocal overhead_s
        tracer.op = i
        op = wl.op(ctx, i, kind)
        c0 = tree.cpu()
        t0 = time.perf_counter()
        try:
            with tracer.span(f"op.{kind}"):   # parent of the layer spans
                out, bad = op.run(), []
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            traceback.print_exc()
            out, bad = None, [f"{kind} raised"]
        secs = time.perf_counter() - t0
        c1 = tree.cpu()
        rec = {"i": i, "kind": kind, "seconds": secs,
               "cpu": {k: c1[k] - c0[k] for k in c0}}
        if counters is not None:
            t_read = time.perf_counter()
            rec["spark"] = counters.delta()
            rec["storage"] = counters.storage()
            overhead_s += time.perf_counter() - t_read
        if not bad:
            try:
                bad = op.check(out)
            except Exception as e:  # noqa: BLE001 - fails the op, not the run
                traceback.print_exc()
                bad = [f"{kind} check raised {e!r}"]
        op.cleanup()
        if counters is not None:   # drop the jobs the check itself ran
            t_read = time.perf_counter()
            counters.delta()
            overhead_s += time.perf_counter() - t_read
        rec["failed"] = bad
        failures.extend(bad)
        return rec

    with RssSampler(tree) as rss:
        from project_etl_spark.registry import load_all
        from project_etl_spark.session import ensure_deterministic, get_spark
        with tracer.span("session.get_spark"):
            spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
            spark.sparkContext.setLogLevel("ERROR")
            ensure_deterministic(spark)
        with tracer.span("registry.load_all"):
            registry = load_all()
        ctx = Ctx(spark, tracer, run_dir, args.seed,
                  np.random.default_rng(args.seed), registry)
        try:
            wl.setup(ctx)
            for _ in range(wl.warm_rounds):
                for kind in wl.kinds:
                    warm.append(do_op(ctx, -1 - len(warm), kind))
            setup_s = time.perf_counter() - t_start
            ctx.layer_counts.clear()
            if args.trace:
                t_read = time.perf_counter()
                counters = SparkCounters(spark)
                overhead_s += time.perf_counter() - t_read
            i = 0
            for _ in range(wl.rounds(args.seconds)):
                for kind in wl.kinds:
                    records.append(do_op(ctx, i, kind))
                    i += 1
        finally:
            _stop_engine(spark, tree)
    noise = host.finish()

    secs = [r["seconds"] for r in records]
    cpu = [sum(r["cpu"].values()) for r in records]
    e2e = {
        "setup_s": setup_s,
        "ops_per_min": 60.0 * len(secs) / sum(secs),
        "op_p50_s": p50_over_kinds(records),
        "cpu_s_per_op": _mean(cpu),
    }
    pct, tail_s = tail(secs)
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "ops": len(records), "warm_ops": len(warm),
        "op_tail_s": tail_s, "op_tail_pct": pct,
        "op_seconds": [round(x, 3) for x in secs],
        "measured_s": sum(secs), "run_s": time.perf_counter() - t_start,
        "peak_rss_mb": rss.peak_mb,
        "lock_wait_s": args.lock_wait_s, **noise,
        "cores": CORES, "driver_heap": HEAP,
        "failures": failures[:10],
    }
    if not args.trace:
        metrics = e2e
    else:
        metrics = _per_layer(tracer, ctx.layer_counts, records, e2e, noise,
                             overhead_s)
        metrics.update(op_tail_s=tail_s, op_tail_pct=pct,
                       op_samples=float(len(secs)), peak_rss_mb=rss.peak_mb)
        tracer.write(os.path.join(
            WORK, "traces", f"{args.workload}-seed{args.seed}.json"),
            warm + records)
    units = END_TO_END if not args.trace else PER_LAYER
    n_failed = sum(1 for r in records + warm if r["failed"])
    result = {
        "correct": n_failed == 0,
        "attempted": len(records) + len(warm),
        "failed": n_failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items()},
    }
    return result, context


def _per_layer(tracer, counts: dict, records: list[dict], e2e: dict,
               noise: dict, overhead_s: float) -> dict:
    measured = [s for s in tracer.spans if s.op is not None and s.op >= 0]

    def span_mean(name: str) -> float:
        return _mean(s.seconds for s in measured if s.name == name)

    out = {
        "session.get_spark_s": sum(tracer.seconds("session.get_spark")),
        "registry.load_all_s": sum(tracer.seconds("registry.load_all")),
    }
    for key in PER_LAYER:
        if key.endswith("_s") and key.split(".")[0] in (
                "pipelines", "pyds", "streaming", "llm_dedup", "operators"):
            out[key] = span_mean(key[:-2])
    for key, vals in counts.items():
        out[key] = _mean(vals)
    n = len(records)
    for key in ("jobs", "stages", "tasks", "shuffle_read_mb",
                "shuffle_write_mb", "spill_mb", "executor_run_s",
                "executor_cpu_s", "gc_s"):
        out[f"spark.{key}"] = _mean(r["spark"][key] for r in records)
    wall = sum(r["seconds"] for r in records)
    out["spark.busy_share"] = (sum(r["spark"]["executor_run_s"]
                                   for r in records) / (CORES * wall))
    out["storage.persisted_rdds"] = records[-1]["storage"]["persisted_rdds"]
    out["storage.memory_mb"] = records[-1]["storage"]["memory_mb"]
    out["proc.jvm_cpu_s"] = _mean(r["cpu"]["jvm"] for r in records)
    out["proc.python_cpu_s"] = _mean(r["cpu"]["python"] for r in records)
    out["trace.op_p50_s"] = e2e["op_p50_s"]
    out["trace.ops_per_min"] = e2e["ops_per_min"]
    out["trace.cpu_s_per_op"] = e2e["cpu_s_per_op"]
    out["trace.overhead_s_per_op"] = overhead_s / n
    out.update(noise)
    return {k: out.get(k, 0.0) for k in PER_LAYER}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "project_etl_spark",
                                       "__init__.py")):
        print("perfbench: no project_etl_spark package next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]()
    planned_s = (wl.rounds(args.seconds) + wl.warm_rounds) * wl.round_s
    if planned_s > PLAN_LIMIT_S:
        print(f"perfbench: --seconds {args.seconds:g} plans {planned_s:.0f} s "
              f"of rounds for {args.workload}, over the {PLAN_LIMIT_S:.0f} s "
              "a run may plan", file=sys.stderr)
        return 2
    lock, args.lock_wait_s = acquire_lock()
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    try:
        result, context = run(args, wl, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        lock.close()
    print("perfbench-context " + json.dumps(context))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
