#!/usr/bin/env python3
"""Steadiness of the end-to-end metrics: two sets of runs of the same code.

    python3 perfbench/steadiness.py --workload query_suite --runs 5 [--first-seed 1]

Runs the workload 2 x RUNS times untraced, each run with its own seed (set A
takes the first RUNS seeds, set B the next RUNS), appends every result line to
.bench_build/steadiness/<workload>.jsonl and prints, per end-to-end metric,
each set's median and quartiles, the spread over all runs (quartile distance
over median) and the change of the median from set A to set B, both against
the metric's bound in BENCHMARK.json. `--summarize FILE` prints the table for
result lines already recorded.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"run with seed {seed} failed:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def quartiles(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def table(results, bench):
    half = len(results) // 2
    a, b = results[:half], results[half:]
    lines = [f"{len(results)} runs; set A = first {half}, set B = last {len(results) - half}",
             f"{'metric':<12} {'set A median [q1, q3]':<30} {'set B median [q1, q3]':<30} "
             f"{'spread':>7} {'A->B':>7} {'bound':>6}  ok"]
    shares = {r['failed'] / r['attempted'] for r in results}
    for m in bench["end_to_end"]:
        name = m["name"]
        va = [r["metrics"][name]["value"] for r in a]
        vb = [r["metrics"][name]["value"] for r in b]
        allv = va + vb
        q1, med, q3 = quartiles(allv)
        spread = (q3 - q1) / med
        qa, qb = quartiles(va), quartiles(vb)
        sign = 1 if m["better"] == "lower" else -1
        change = sign * (qb[1] - qa[1]) / qa[1]
        ok = change <= m["bound"] and (name == "setup_s" or spread <= m["bound"])
        lines.append(f"{name:<12} {qa[1]:>9.4g} [{qa[0]:.4g}, {qa[2]:.4g}]".ljust(43) +
                     f"{qb[1]:>9.4g} [{qb[0]:.4g}, {qb[2]:.4g}]".ljust(31) +
                     f"{spread:>7.1%} {change:>+7.1%} {m['bound']:>6.0%}  {'yes' if ok else 'NO'}")
    lines.append(f"failed share per run: {sorted(shares)}")
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--runs", type=int, default=5, help="runs per set")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--summarize", help="a .jsonl file of recorded result lines")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.summarize:
        with open(a.summarize) as f:
            results = [json.loads(line) for line in f if line.strip()]
    else:
        if not a.workload:
            ap.error("--workload or --summarize is required")
        out_dir = os.path.join(ROOT, ".bench_build", "steadiness")
        os.makedirs(out_dir, exist_ok=True)
        results = []
        with open(os.path.join(out_dir, f"{a.workload}.jsonl"), "a") as f:
            for seed in range(a.first_seed, a.first_seed + 2 * a.runs):
                results.append(run(a.workload, seed, bench["run_seconds"]))
                f.write(json.dumps(results[-1]) + "\n")
                f.flush()
    print(table(results, bench))


if __name__ == "__main__":
    main()
