#!/usr/bin/env python3
"""Run storebench on two checkouts in alternating pairs and compare them.

    python3 tools/bench_pairs.py PARENT_DIR CHANGE_DIR --workload serve \\
        --pairs 10 --seed 101

Pair i runs `python3 storebench/run.py --workload W --seed S+i --seconds
<run_seconds> --trace 0` in both checkouts, the parent first on even pairs
and the change first on odd ones. `run_seconds`, the end-to-end metrics,
their directions and their bounds come from CHANGE_DIR/BENCHMARK.json. Every
run's metrics are printed as it finishes. Then, per end-to-end metric: each
side's median and IQR, the pairs the change won, and whether the change
median is worse than the parent's by more than the bound (a fraction of
the parent's median). A run that fails is reported and its pair skipped.
Reads only `storebench/` and `BENCHMARK.json` of each checkout.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def quartiles(xs):
    """(q1, median, q3) of `xs` (inclusive method; one value repeats)."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def run(checkout, workload, seed, seconds):
    """One storebench run in `checkout`: {metric: value}, or None on failure."""
    cmd = [sys.executable, "storebench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True)
    lines = [line for line in proc.stdout.splitlines() if line.strip()]
    if proc.returncode != 0 or not lines:
        tail = proc.stderr.strip().splitlines()[-1:] or ["no output"]
        print(f"  run failed (exit {proc.returncode}): {tail[0]}", flush=True)
        return None
    out = json.loads(lines[-1])
    return {name: m["value"] for name, m in out["metrics"].items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent", help="checkout of the parent commit")
    ap.add_argument("change", help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, required=True, help="seed of the first pair")
    args = ap.parse_args()

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    metrics = bench["end_to_end"]
    sides = {"parent": args.parent, "change": args.change}
    results = {"parent": [], "change": []}

    for i in range(args.pairs):
        seed = args.seed + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {}
        for side in order:
            print(f"pair {i + 1}/{args.pairs} seed {seed} {side}:", flush=True)
            got = run(sides[side], args.workload, seed, seconds)
            if got is not None:
                print("  " + " ".join(f"{m['name']}={got[m['name']]:.4g}" for m in metrics),
                      flush=True)
            pair[side] = got
        if all(pair[s] is not None for s in sides):
            for s in sides:
                results[s].append(pair[s])

    n = len(results["change"])
    print(f"\n{args.workload}: {n} complete pairs of {args.pairs}")
    if n == 0:
        return 1
    print(f"{'metric':<18}{'parent p50':>12}{'IQR':>10}{'change p50':>12}{'IQR':>10}"
          f"{'change won':>12}{'bound':>8}  worse than bound")
    worse_any = False
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        p = [r[name] for r in results["parent"]]
        c = [r[name] for r in results["change"]]
        pq, cq = quartiles(p), quartiles(c)
        won = sum(1 for a, b in zip(p, c) if (b < a if lower else b > a))
        rel = (cq[1] - pq[1]) / pq[1] if pq[1] else 0.0
        worse = (rel if lower else -rel) > m["bound"]
        worse_any |= worse
        print(f"{name:<18}{pq[1]:>12.4g}{pq[2] - pq[0]:>10.3g}{cq[1]:>12.4g}"
              f"{cq[2] - cq[0]:>10.3g}{f'{won}/{n}':>12}{m['bound']:>8}  "
              f"{'YES' if worse else 'no'} ({rel:+.1%})")
    return 2 if worse_any else 0


if __name__ == "__main__":
    sys.exit(main())
