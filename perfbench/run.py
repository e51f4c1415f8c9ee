"""Benchmark of the batch engine: one workload, one seed, one fresh session.

Run from the root of a checkout:

    python3 perfbench/run.py --workload suite_sf0.1 --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it
is the full report: every end-to-end metric with its sample count, the
failure ratio, each failure, and the host stamp. A traced run also writes
its spans to ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ai_batch_processing_spark"
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import sparkstats  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402


def calibrate() -> float:
    """Median time of a fixed single-thread loop: a host-speed stamp."""
    times = []
    for _ in range(3):
        t = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x = (x * 31 + i) % 1_000_003
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def host_driver_mem() -> str:
    """A quarter of the host's memory, at most 8 GiB, for the local JVM."""
    with open("/proc/meminfo", encoding="ascii") as fh:
        total_kb = int(next(line for line in fh if line.startswith("MemTotal:")).split()[1])
    return f"{min(8192, total_kb // 4096)}m"


def host_cpu_ticks() -> list[int]:
    """The host-wide ``cpu`` line of /proc/stat; field 7 is time stolen by the hypervisor."""
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def source_sha() -> str:
    """Hash of the package and benchmark sources (the checkout has no .git)."""
    h = hashlib.sha1()
    for base in (os.path.join(ROOT, PACKAGE), HERE):
        for d, dirs, files in sorted(os.walk(base)):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def git_sha() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, check=False)
    return r.stdout.strip() or None


def pin_environment(work: str) -> dict[str, str]:
    """Pin the settings the program reads, and keep every write in ``work``."""
    tmp = os.path.join(work, "tmp")
    pins = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": host_driver_mem(),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # Every JVM, the launcher's too: temp files in the checkout, and no
        # performance-counter file in the system temp directory.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(pins[key], exist_ok=True)
    os.environ.update(pins)
    # Python workers import the package from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = pins["TMPDIR"]
    return pins


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM and its Python workers exit."""
    proc = spark.sparkContext._gateway.proc
    below = descendants(proc.pid)
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    for pid in below:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def end_to_end(passes: list[tuple[float, list]], setup_s: float) -> dict[str, dict]:
    walls = [w for w, _ in passes]
    lat = [r.latency_s for _, ops in passes for r in ops]
    rates = [sum(r.rows for r in ops) / w for w, ops in passes]
    t = stats.tail(lat)
    return {
        "setup_s": {"value": setup_s, "unit": "s", "n": 1},
        "wall_s": {"value": statistics.median(walls), "unit": "s", "n": len(walls)},
        "op_p50_s": {"value": statistics.median(lat), "unit": "s", "n": len(lat)},
        "op_tail_s": {"value": t["value"], "unit": "s", "n": t["n"], "pct": t["pct"], "beyond": t["beyond"]},
        "rows_per_s": {"value": statistics.median(rates), "unit": "rows/s", "n": len(rates)},
    }


def per_layer(wall: float, ops: list, slots: int) -> dict[str, float]:
    """Sum one traced pass's operations into one value per layer metric."""
    out = {name: 0.0 for name, *_ in metrics.PER_LAYER}
    for r in ops:
        for k, v in r.layers.items():
            if k == "spark.task_skew":
                out[k] = max(out[k], v)
            elif k in out:
                out[k] += v
    out["spark.slot_util"] = out["spark.executor_run_s"] / (wall * slots)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # A terminated run still stops its session: SystemExit unwinds through
    # the ``finally`` that waits for the JVM and its Python workers.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE} package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    if not os.path.isdir(workloads.SF01):
        print(f"perfbench: input tables missing: {workloads.SF01}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")  # inputs and outputs of this run
    os.makedirs(run_dir)
    try:
        return measure(args, work, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args: argparse.Namespace, work: str, run_dir: str) -> int:
    """Generate, set up, measure, check and report one run."""
    pins = pin_environment(work)
    sys.path.insert(0, ROOT)
    tracer = Tracer(enabled=bool(args.trace))

    calib_s = calibrate()
    wl = workloads.WORKLOADS[args.workload]()
    t = time.perf_counter()
    with tracer.span("bench.gen", "setup"):
        wl.generate(run_dir, args.seed)
    gen_s = time.perf_counter() - t

    t0 = time.perf_counter()
    with tracer.span("session.get_spark", "setup"):
        from ai_batch_processing_spark.session import get_spark

        spark = get_spark("perfbench", extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")})
    t1 = time.perf_counter()
    try:
        spark.sparkContext.setLogLevel("ERROR")
        with tracer.span("registry.load_all", "setup"):
            from ai_batch_processing_spark.registry import load_all

            specs = load_all()
        t2 = time.perf_counter()
        slots = int(pins["SPARK_GRAFT_CPUS"])
        ctx = workloads.Ctx(spark, specs, tracer, run_dir)
        rng = np.random.default_rng(args.seed)
        # The warm-up passes run the workload's own operations on its own
        # inputs: the first run of each plan shape in a fresh JVM pays class
        # loading, code generation, JIT and Python-worker start-up.
        with tracer.span("bench.warmup", "setup"):
            for _ in range(wl.warmup_passes):
                wl.run_pass(ctx, rng, traced=False, check=False)
        t3 = time.perf_counter()
        setup_s = t3 - t0

        untraced: list[tuple[float, list]] = []
        traced: list[tuple[float, list]] = []
        # A fixed pass count, so every run of a workload measures the same
        # passes. A traced run alternates untraced and traced passes, with
        # untraced ones on both sides of a traced one so that a pass being
        # warmer than the one before does not read as negative overhead.
        n_passes = max(3 if args.trace else 1, round(args.seconds / wl.pass_s))
        cpu0 = host_cpu_ticks()
        for i in range(n_passes):
            trace_this = bool(args.trace) and i % 2 == 1
            p0 = time.perf_counter()
            with tracer.span("bench.pass", "pass"):
                ops = wl.run_pass(ctx, rng, traced=trace_this, check=True)
            wall = time.perf_counter() - p0
            (traced if trace_this else untraced).append((wall, ops))
        cpu1 = host_cpu_ticks()
        wl.close()

        stamp = {
            "calib_s": calib_s,
            "steal_pct": 100.0 * (cpu1[7] - cpu0[7]) / max(sum(cpu1) - sum(cpu0), 1),
            "cpus": slots,
            "git_sha": git_sha(),
            "source_sha": source_sha(),
            "seed": args.seed,
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "env": pins,
        }
        jvm_rss = sparkstats.jvm_peak_rss_mb(spark.sparkContext) if args.trace else 0.0
    finally:
        stop_spark(spark)

    attempted = sum(r.attempted for _, ops in untraced for r in ops)
    failed = sum(r.failed for _, ops in untraced for r in ops)
    failures = sorted({(r.name, "; ".join(r.problems)[:400]) for _, ops in untraced + traced for r in ops if r.failed})
    unexpected = [n for n, _ in failures if (args.workload, n) not in workloads.KNOWN_DEFECTS]
    e2e = end_to_end(untraced, setup_s)
    report = {
        "workload": args.workload,
        "passes": len(untraced),
        "end_to_end": e2e,
        "failed_ratio": {"value": failed / attempted, "failed": failed, "attempted": attempted},
        "failures": [
            {"op": n, "problem": p, "known_defect": workloads.KNOWN_DEFECTS.get((args.workload, n))} for n, p in failures
        ],
        "latencies": {r.name: [] for _, ops in untraced for r in ops},
        "stamp": stamp,
    }
    for _, ops in untraced:
        for r in ops:
            report["latencies"][r.name].append(round(r.latency_s, 4))

    if args.trace:
        by_pass = [per_layer(wall, ops, slots) for wall, ops in traced]
        layers = {k: statistics.median(p[k] for p in by_pass) for k in by_pass[0]}
        layers.update(
            {
                "session.get_spark_s": t1 - t0,
                "registry.load_all_s": t2 - t1,
                "bench.warmup_s": t3 - t2,
                "bench.gen_s": gen_s,
                "bench.calib_s": calib_s,
                "bench.trace_overhead_s": statistics.median(w for w, _ in traced)
                - statistics.median(w for w, _ in untraced),
                "session.jvm_peak_rss_mb": jvm_rss,
            }
        )
        units = {name: unit for name, unit, *_ in metrics.PER_LAYER}
        out_metrics = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        trace_path = os.path.join(work, "traces", f"{args.workload}-seed{args.seed}.json")
        moves = {name: {"moves": m, "on": list(w)} for name, _, _, m, w in metrics.PER_LAYER}
        tracer.write(trace_path, {"stamp": stamp, "per_layer": layers, "moves": moves, "report": report})
        report["trace_file"] = os.path.relpath(trace_path, ROOT)
    else:
        out_metrics = {k: {"value": e2e[k]["value"], "unit": u} for k, u, _ in metrics.END_TO_END}

    print(json.dumps(report))
    print(json.dumps({"correct": not unexpected, "attempted": attempted, "failed": failed, "metrics": out_metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
