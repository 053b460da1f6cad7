"""Benchmark entry point.

    python3 perfbench/run.py --workload tile_batch --seed 1 --seconds 5 \
        --trace 0 [--cpus 4]

Run from the repository root.  Builds its inputs from ``--seed`` under
``.perfbench_work/`` (removed afterwards), measures the workload for
``--seconds`` seconds of closed-loop operations after its set-up, checks
every answer, and prints one JSON object as the last line of standard
output: the end-to-end metrics with ``--trace 0``, the per-layer metrics
with ``--trace 1``.  Progress and check failures go to standard error.
Exits non-zero, printing no result, when the engine package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "osmquadtree_geometry_spark"
# The engine's default heap (24g) exceeds small hosts.  A 2g cap is one
# the runs reach, so the peak RSS repeats from run to run (see README).
DRIVER_MEMORY = "2g"


def configure_env(work: str, cpus: int, trace: bool) -> str:
    """Point every file Spark, the JVM and Python workers write at
    ``work``; return the event-log directory."""
    dirs = {k: os.path.join(work, k)
            for k in ("tmp", "local", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData")
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    conf = {"spark.local.dir": dirs["local"],
            "spark.sql.warehouse.dir": dirs["warehouse"],
            "spark.ui.showConsoleProgress": "false"}
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": dirs["eventlog"],
                     "spark.eventLog.compress": "false"})
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(
        f"{k}={v}" for k, v in conf.items())
    return dirs["eventlog"]


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, then wait until every
    process this run started (JVM, pyspark daemon, workers) is gone."""
    from pyspark import SparkContext

    from harness import tree_pids
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while len(tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in tree_pids(os.getpid())[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while len(tree_pids(os.getpid())) > 1:
        time.sleep(0.1)


def end_to_end(run, rss_peak_mb: float) -> dict:
    return {
        "setup_s": {"value": run.setup_s, "unit": "s"},
        "op_p50_s": {"value": statistics.median(run.op_s) if run.op_s else 0.0,
                     "unit": "s"},
        "peak_rss_mb": {"value": rss_peak_mb, "unit": "MB"},
    }


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    import workloads  # imports no pyspark: the environment is set below
    from harness import (RssSampler, host_cpu_ticks, steal_share,
                         tail_percentile)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cpus", type=int, default=4,
                    help="Spark local[N] parallelism (SPARK_GRAFT_CPUS)")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    eventlog_dir = configure_env(work, args.cpus, bool(args.trace))
    sys.path.insert(0, ROOT)
    run = workloads.Run(args.workload, args.seed, args.seconds,
                        bool(args.trace), work, eventlog_dir)
    ticks0 = host_cpu_ticks()
    try:
        with RssSampler() as rss:
            try:
                workloads.WORKLOADS[args.workload](run)
            finally:
                if run.spark is not None:
                    stop_spark(run.spark)
        if args.trace:
            workloads.fill_from_events(run)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    run.setup_s = run.setup_end - t_start - run.setup_check_s
    if args.trace:
        units = workloads.per_layer_units()
        metrics = {k: {"value": v, "unit": units[k]}
                   for k, v in run.layer.items()}
    else:
        metrics = end_to_end(run, rss.peak_mb)
    ok = run.failed == 0 and bool(run.op_s or args.trace)
    workloads.log(f"{args.workload}: {run.attempted} operations, "
                  f"{run.failed} failed, {len(run.op_s)} timed")
    workloads.log("  peak RSS by process (MiB): " + ", ".join(
        f"{proc}={mb:.0f}" for proc, mb in sorted(
            rss.peak_split.items(), key=lambda kv: -kv[1])))
    workloads.log(f"  host CPU stolen during the run: "
                  f"{steal_share(ticks0, host_cpu_ticks()):.1%}")
    tail = tail_percentile(run.op_s) if run.op_s else None
    workloads.log(f"  tail: p{tail[0]:g} = {tail[1]:.4g} s" if tail else
                  "  tail: too few timed operations for a percentile with "
                  "10 samples beyond it")
    for k, m in metrics.items():
        workloads.log(f"  {k} = {m['value']:.6g} {m['unit']}")
    workloads.log(f"  run wall time: {time.perf_counter() - t_start:.1f} s")
    print(json.dumps({"correct": ok, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
