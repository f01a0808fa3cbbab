"""perfbench — the repository benchmark.

    python3 perfbench/run.py --workload import_mix --seed 1 --seconds 3 --trace 0

Run from the repository root.  One client drives the chosen workload
(import_mix, sql_analytics or llm_dedup) in a closed loop on
local[<nproc>] and checks every output.  The last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}, holding the
end-to-end metrics with ``--trace 0`` and the per-layer metrics (spans
recorded around each layer's public calls, Spark and Postgres counters,
the memory peak while ops run, tracing overhead) with ``--trace 1``.  Earlier lines print the same
metrics for people, with sample counts and load averages.

Everything the run writes (inputs, Spark local dirs, the throwaway
Postgres cluster, spans) lives under ``.perfbench/`` in the repository
root; the cluster and Spark are stopped on every exit path.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
RUN_DIR = os.path.join(WORK, "run")
WORKLOADS = ("import_mix", "sql_analytics", "llm_dedup")


def configure_env() -> int:
    """Environment for Spark and its Python workers, set here so the
    package itself is left as it is.  Returns the core count used."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(RUN_DIR, "tmp")
    os.makedirs(tmp)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update({
        # Spark's Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        # session.get_spark defaults to local[32]; use the cores we have
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(RUN_DIR, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(RUN_DIR, "warehouse"),
        "TMPDIR": tmp,
        "TZ": "UTC",
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
        ),
    })
    time.tzset()
    return cpus


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers are gone."""
    from pyspark import SparkContext

    from perfbench.harness import process_tree

    started = process_tree(os.getpid()) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while (left := [p for p in started if _alive(p)]) and time.monotonic() < deadline:
        time.sleep(0.05)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")

    sys.path.insert(0, ROOT)
    try:
        import parquet_to_sql_spark  # noqa: F401
        from perfbench import harness
        from perfbench.import_mix import ImportMix
        from perfbench.llm_dedup import LlmDedup
        from perfbench.pgcluster import stop_stale
        from perfbench.sql_analytics import SqlAnalytics
        from perfbench.tracing import Tracer
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2

    signal.signal(signal.SIGTERM, _on_sigterm)
    stop_stale(os.path.join(RUN_DIR, "pg"))  # left over by a killed run
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    cpus = configure_env()
    load_start, ticks_start = harness.loadavg(), harness.cpu_ticks()

    from parquet_to_sql_spark.session import get_spark  # after configure_env: Spark reads it

    tracer = Tracer(enabled=bool(args.trace))
    cls = {"import_mix": ImportMix, "sql_analytics": SqlAnalytics, "llm_dedup": LlmDedup}
    spark = wl = None
    try:
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = get_spark("perfbench")
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        tracer.enabled = False  # warm-up ops in setup are not measured
        wl = cls[args.workload](spark, tracer, RUN_DIR, args.seed)
        wl.setup()
        setup_s = time.perf_counter() - t0
        # the memory peak covers the program while ops run: not input
        # generation, the checks, or the checkers' own processes
        rss = harness.RssSampler(wl.unsampled()) if args.trace else None
        with rss or contextlib.nullcontext():
            ops = harness.run_loop(wl, spark, tracer, args.seconds, bool(args.trace), rss)
        load_end, ticks_end = harness.loadavg(), harness.cpu_ticks()
    finally:
        try:
            if wl is not None:
                wl.close()
        finally:
            if spark is not None:
                _stop_spark(spark)

    failed = sum(o.error is not None for o in ops)
    if args.trace:
        metrics, units = harness.per_layer(ops, tracer, rss.peak), harness.PER_LAYER
        os.makedirs(WORK, exist_ok=True)
        tracer.write(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json"))
    else:
        metrics, units = harness.end_to_end(ops, setup_s), harness.END_TO_END
    steal = (ticks_end[1] - ticks_start[1]) / max(ticks_end[0] - ticks_start[0], 1)
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} nproc={cpus} "
          f"loadavg start={load_start} end={load_end} cpu steal={100 * steal:.1f}% "
          f"setup: session {session_s:.2f} s + workload {setup_s - session_s:.2f} s")
    for line in harness.summary_lines(ops, metrics, units):
        print(line)
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
