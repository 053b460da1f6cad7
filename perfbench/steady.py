"""Steadiness report: run one workload K times with consecutive seeds
and print each end-to-end metric's median and interquartile range as a
share of the median, then (with --traced) one traced run and its
overhead: its layer-split operation against the untraced runs' median
operation.

    python3 perfbench/steady.py --workload query_serve --runs 5 --traced

Run from the repository root.  Seeds start at 1 and the run length is
BENCHMARK.json's ``run_seconds``.  The runs' own logs go to standard
error.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

from harness import iqr_frac, quartiles

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def one_run(command: list[str], workload: str, seed: int, seconds: int,
            trace: int) -> dict:
    """One run of BENCHMARK.json's command; its result line."""
    cmd = command + ["--workload", workload, "--seed", str(seed),
                     "--seconds", str(seconds), "--trace", str(trace)]
    # each run's progress log goes to this process's standard error
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                         check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--traced", action="store_true",
                    help="add one traced run and report its overhead")
    args = ap.parse_args()

    seconds = bench["run_seconds"]
    results = []
    for seed in range(1, args.runs + 1):
        r = one_run(bench["command"], args.workload, seed, seconds, 0)
        results.append(r)
        print(f"seed {seed}: correct={r['correct']} "
              f"attempted={r['attempted']} failed={r['failed']} " +
              " ".join(f"{k}={m['value']:.4g}"
                       for k, m in r["metrics"].items()), flush=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    print(f"\n{args.workload}: {args.runs} runs of {seconds} s")
    print(f"{'metric':<14} {'unit':<5} {'median':>10} {'q1':>10} "
          f"{'q3':>10} {'iqr/med':>8} {'bound':>6}")
    for name, m in results[0]["metrics"].items():
        vals = [r["metrics"][name]["value"] for r in results]
        q1, med, q3 = quartiles(vals)
        print(f"{name:<14} {m['unit']:<5} {med:>10.4g} "
              f"{q1:>10.4g} {q3:>10.4g} {iqr_frac(vals):>8.3f} "
              f"{bounds.get(name, float('nan')):>6}")
    bad = sum(not r["correct"] for r in results)
    print(f"correctness: {args.runs - bad}/{args.runs} runs correct, "
          f"{sum(r['failed'] for r in results)} failed of "
          f"{sum(r['attempted'] for r in results)} operations")

    if args.traced:
        t = one_run(bench["command"], args.workload, 1, seconds,
                    1)["metrics"]
        v = {k: m["value"] for k, m in t.items()}
        untraced = statistics.median(
            r["metrics"]["op_p50_s"]["value"] for r in results)
        traced = v["trace.traced_op_s"]
        print("\ntraced run (seed 1):")
        print(f"  untraced op_p50_s (median of runs)  {untraced:.3f} s")
        print(f"  traced op, split by layer           {traced:.3f} s "
              f"(overhead {traced - untraced:+.3f} s, "
              f"{traced / untraced - 1:+.1%})")
        print(f"  sum of layers' exec_s / plan_s      "
              f"{v['trace.layers_exec_sum_s']:.3f} / "
              f"{v['trace.layers_plan_sum_s']:.3f} s")
        for k in sorted(v):
            if v[k] and not k.startswith("trace."):
                print(f"  {k:<40} {v[k]:.4g} {t[k]['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
