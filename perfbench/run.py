"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. With ``--trace 0`` the last stdout line
carries the end-to-end metrics; with ``--trace 1`` it carries the
per-layer metrics of a traced run. The line before it is a detail
object with every named metric the workload supports, sample counts
and the environment (nproc, Spark version, revision). Exits 1 when an
output check fails and 2 when the program to measure is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

from memory import process_tree

WORKLOADS = ("ingest_push", "catalog")

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "peak_rss_mb": "MB",
}
# cold_s and ops_per_s rest on one cold pass and a handful of reads per
# run, too few to hold a bound here; they are tracked without one.
PER_LAYER = {
    "cold_s": "s",
    "ops_per_s": "1/s",
    "construct_ms": "ms",
    "action_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.cached_mb": "MB",
    "spark.cached_rdds": "count",
    "trace.overhead_pct": "%",
}
PACKAGE = "crypto_price_tracker_with_etl_dashboard_spark"
REQUIRED = (f"{PACKAGE}/__init__.py", "__spark_entry__.py", "tools/check_oracle.py")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def calibrate() -> float:
    """Seconds for a fixed single-threaded loop: how fast this machine is
    running at the moment, to read timings from different runs against."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc = (acc * 31 + i) % 1_000_003
    return time.perf_counter() - t0


def revision(root: str) -> str:
    head = os.path.join(root, ".git", "HEAD")
    if not os.path.isfile(head):
        return "unknown (not a git checkout)"
    ref = open(head).read().strip()
    if ref.startswith("ref: "):
        path = os.path.join(root, ".git", ref[5:])
        return open(path).read().strip() if os.path.isfile(path) else ref
    return ref


def stop_spark() -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every process this run started has exited."""
    from pyspark import SparkContext

    children = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 30
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def main() -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}", file=sys.stderr)
        return 2

    calibration_s = calibrate()
    n = nproc()
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    here = os.path.dirname(os.path.abspath(__file__))
    os.environ.update({
        "TZ": "UTC",
        "SPARK_GRAFT_CPUS": str(n),
        "SPARK_DRIVER_MEMORY": "1g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join([root, here, os.environ.get("PYTHONPATH", "")]),
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell",
    })
    time.tzset()
    sys.path.insert(0, root)

    import pyspark

    import workloads

    ctx = workloads.Ctx(work=work, seed=args.seed, seconds=args.seconds,
                        trace=bool(args.trace), nproc=n)
    t_imported = time.perf_counter()
    try:
        res = getattr(workloads, args.workload)(ctx)
    finally:
        t_stop = time.perf_counter()
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    wall = {"import": t_imported - t_start, "workload": t_stop - t_imported,
            "stop": time.perf_counter() - t_stop}

    from stats import median

    e2e = {
        "setup_s": median(res.setup_s),
        "op_p50_ms": median(res.op_ms),
        "peak_rss_mb": sum(res.peak_rss.values()),
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": n, "spark_version": pyspark.__version__,
        "revision": revision(root), "setup_runs_s": res.setup_s, "peak_rss_by_process_mb": res.peak_rss, "wall_s": wall,
        "calibration_s": calibration_s,
        "op_samples": len(res.op_ms), "ops_failed_frac": res.failed / max(res.attempted, 1),
        **e2e, "cold_s": res.cold_s, "ops_per_s": res.ops_per_s, **res.detail,
        "errors": res.errors,
    }
    if args.trace:
        detail.update(res.layers)
    print(json.dumps({"detail": detail}, default=str))

    layers = {**res.layers, "cold_s": res.cold_s, "ops_per_s": res.ops_per_s}
    chosen, values = (PER_LAYER, layers) if args.trace else (END_TO_END, e2e)
    lost = [k for k in chosen if values.get(k) is None]
    if lost:
        print(f"perfbench: no value for {lost}", file=sys.stderr)
        res.fail(f"metrics without a value: {lost}")
    metrics = {k: {"value": values.get(k), "unit": u} for k, u in chosen.items()}
    correct = res.failed == 0
    print(json.dumps({"correct": correct, "attempted": max(res.attempted, 1),
                      "failed": res.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
