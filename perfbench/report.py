#!/usr/bin/env python3
"""Print every metric of every workload, and the tracing overhead.

Usage (from the repository root):
  python3 perfbench/report.py [--seed 1] [--seconds S] [--workload W ...]

For each workload it runs run.py twice with the same seed, untraced and
traced, and prints: the end-to-end metrics of both runs with the traced
run's difference (the tracing overhead), the percentiles with their sample
counts, the workload-level metrics and the per-layer metrics.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("query_mix", "table_lifecycle", "corpus_admit")


def run(workload, seed, seconds, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
    lines = p.stdout.splitlines()
    report = next(json.loads(l.split(" ", 1)[1]) for l in lines
                  if l.startswith("perfbench-report "))
    return report, json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int,
                    default=json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["run_seconds"])
    ap.add_argument("--workload", action="append", choices=WORKLOADS)
    a = ap.parse_args()
    for w in a.workload or WORKLOADS:
        rep0, res0 = run(w, a.seed, a.seconds, 0)
        rep1, res1 = run(w, a.seed, a.seconds, 1)
        print(f"== {w} (seed {a.seed}, {a.seconds} s): correct={res0['correct'] and res1['correct']} "
              f"attempted={res0['attempted']}/{res1['attempted']} "
              f"failed={res0['failed']}/{res1['failed']}")
        print(f"  {'end-to-end':<28}{'unit':>8}{'untraced':>14}{'traced':>14}{'overhead':>10}")
        for k, m in sorted(res0["metrics"].items()):
            v0, v1 = m["value"], rep1["end_to_end"][k]
            over = f"{(v1 - v0) / v0:+.1%}" if v0 else "n/a"
            print(f"  {k:<28}{m['unit']:>8}{v0:>14.4g}{v1:>14.4g}{over:>10}")
        for k, p in sorted(rep0["percentiles"].items()):
            print(f"  {k + ' percentiles':<28}     n={p['n']:<5} p50={p['p50_ms']} p90={p['p90_ms']}"
                  "  (null: under 10 samples beyond)")
        print(f"  {'workload-level (untraced)':<28}")
        for k, v in sorted(rep0["workload_level"].items()):
            print(f"    {k:<34}{v:>14.4g}")
        print(f"  {'per-layer (traced)':<28}")
        for k, m in sorted(res1["metrics"].items()):
            print(f"    {k:<34}{m['unit']:>8}{m['value']:>14.4g}")
        print(f"  env: {json.dumps(rep0['env'], sort_keys=True)}")


if __name__ == "__main__":
    main()
