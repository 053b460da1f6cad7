#!/usr/bin/env python
"""Two-level scaling protocol: ``bench.run_scaling``'s bucketed variant
(taskset-confined core levels, fresh-JVM reps, JIT-warm data-cold
best-of-3 passes per JVM, per-pass JVM cpu + GC seconds) run under a
lock file so no other protocol window can overlap it, with loadavg
sampled throughout.  Appends a section to BENCH/BASELINE.md.

Usage:
  nohup python scripts/run_scaling.py [--docs N] [--reps R]
      [--cores SMALL BIG] > scaling.log 2>&1 &

Set SPARK_GRAFT_SKIP_PREPARE=1 to reuse a bucketed layout already
built for the same input (the prepass is ~12 min at 14M docs).
"""
import argparse
import json
import os
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from osmquadtree_geometry_spark.session import DATA_DIR  # noqa: E402

LOCK = os.path.join(DATA_DIR, "protocol.lock")


def _assert_idle() -> float:
    """Refuse to start while another protocol holds the lock; return
    the starting 1-minute loadavg."""
    if os.path.exists(LOCK):
        raise SystemExit(f"another protocol holds {LOCK}; refusing")
    return float(open("/proc/loadavg").read().split()[0])


class LoadSampler(threading.Thread):
    """loadavg every 30 s, so a contaminated window shows in the
    report instead of only post hoc."""

    def __init__(self):
        super().__init__(daemon=True)
        self.samples = []
        self._halt = threading.Event()

    def run(self):
        while not self._halt.is_set():
            self.samples.append(
                float(open("/proc/loadavg").read().split()[0]))
            self._halt.wait(30)

    def stop(self):
        self._halt.set()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--docs", type=int, default=14080000)
    ap.add_argument("--reps", type=int, default=3,
                    help="fresh-JVM reps per core level")
    ap.add_argument("--cores", type=int, nargs=2, default=(4, 16),
                    metavar=("SMALL", "BIG"))
    args = ap.parse_args()
    small, big = args.cores
    os.environ["SPARK_GRAFT_SCALING_DOCS"] = str(args.docs)
    os.environ["SPARK_GRAFT_SCALING_VARIANTS"] = "bucketed"
    os.environ["SPARK_GRAFT_SCALING_REPS"] = str(args.reps)
    import bench

    load0 = _assert_idle()
    os.makedirs(os.path.dirname(LOCK), exist_ok=True)
    with open(LOCK, "w") as f:
        f.write(f"run_scaling pid={os.getpid()} started={time.time()}")
    sampler = LoadSampler()
    sampler.start()
    try:
        t0 = time.monotonic()
        summary = bench.run_scaling(small=small, big=big)
        wall = time.monotonic() - t0
    finally:
        sampler.stop()
        os.unlink(LOCK)
    print(json.dumps(summary))
    vs = summary.get("bucketed", {})
    loads = sorted(sampler.samples)
    lines = [f"\n## Scaling protocol: {small}->{big} cores, {args.docs} docs, "
             f"{args.reps} fresh-JVM reps per level\n\n",
             "Bucketed variant of bench.run_scaling, run under the "
             "protocol lock file with loadavg sampled every 30 s (start "
             f"load1 {load0:.2f}; samples min/med/max {loads[0]:.1f}/"
             f"{loads[len(loads) // 2]:.1f}/{loads[-1]:.1f} — the "
             "protocol itself is the load).\n\n" if loads else "\n",
             "| key | value |\n|---|---|\n"]
    for k, v in vs.items():
        if not k.startswith("reps_"):
            lines.append(f"| {k} | {v} |\n")
    lines.append(f"| protocol_wall_sec | {round(wall, 1)} |\n")
    for lvl in (small, big):
        det = vs.get(f"reps_{lvl}")
        if not det:
            continue
        lines.append(f"\nPer-rep detail, {lvl} cores (fresh JVM, 3 "
                     "passes; sec/cpu/gc per pass):\n\n")
        for i, rep in enumerate(det):
            pp = ", ".join(
                f"{p['sec']}s/{p['cpu_sec']}cpu/{p['gc_sec']}gc"
                for p in (rep.get("passes") or []))
            lines.append(f"- rep {i}: best {rep['value']} s (cpu "
                         f"{rep.get('cpu_sec')}) — passes: {pp}\n")
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "a") as f:
        f.writelines(lines)
    print("appended to BENCH/BASELINE.md")


if __name__ == "__main__":
    main()
