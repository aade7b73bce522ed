#!/usr/bin/env python3
"""Steadiness check: two sets of benchmark runs of one source state.

    python3 perfbench/steady.py --workload loops [--runs 10] [--sets 2] [--seconds 15]

Each run gets its own seed (set s, run i: seed = --seed0 + s*runs + i). For
every end-to-end metric in BENCHMARK.json it prints, per set, the median,
the quartiles (statistics.quantiles, n=4) and the spread (q3 - q1) / median,
then whether

- each set's spread is within the metric's bound ("WIDE" if not),
- each spread is below a third of the bound ("loose" if not),
- the two sets' medians differ by no more than the bound, in either
  direction: |m2 - m1| / m1 ("SHIFTED" if not),
- the share of failed operations is the same in every set.

Use its output to set the bounds. It runs only the workload it is given,
one run at a time.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload, seed, seconds):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.exit(f"run failed: workload={workload} seed={seed} exit={r.returncode}")
    with open(os.path.join(HERE, "out", "runs.jsonl")) as f:
        record = json.loads(f.readlines()[-1])
    return json.loads(lines[-1]), record["steal_pct"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--seed0", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    sets = []
    for s in range(a.sets):
        runs = []
        for i in range(a.runs):
            seed = a.seed0 + s * a.runs + i
            res, steal = one_run(a.workload, seed, seconds)
            runs.append(res)
            vals = " ".join(f"{k}={v['value']:.3f}" for k, v in res["metrics"].items())
            print(f"set {s} seed {seed}: correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} {vals} "
                  f"steal_pct={steal if steal is None else round(steal, 1)}", flush=True)
        sets.append(runs)

    ok = True
    print(f"\n{a.workload}: {a.sets} set(s) x {a.runs} runs, {seconds:g} s each")
    print(f"{'metric':<12} {'bound':>6}  " + "  ".join(
        f"{'set' + str(s) + ' median [q1, q3] spread':>36}" for s in range(a.sets)) + "  verdict")
    for name, bound in bounds.items():
        cells, medians, verdict = [], [], []
        for runs in sets:
            v = [r["metrics"][name]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / med
            medians.append(med)
            cells.append(f"{med:9.3f} [{q1:8.3f}, {q3:8.3f}] {spread:6.3f}")
            if spread > bound:
                verdict.append("WIDE")
            elif spread >= bound / 3:
                verdict.append("loose")
        if len(medians) > 1 and abs(medians[1] - medians[0]) > medians[0] * bound:
            verdict.append("SHIFTED")
        ok &= not any(v in ("WIDE", "SHIFTED") for v in verdict)
        print(f"{name:<12} {bound:6.3f}  " + "  ".join(f"{c:>36}" for c in cells)
              + "  " + (",".join(verdict) or "tight"))
    shares = {sum(r["failed"] for r in runs) / sum(r["attempted"] for r in runs) for runs in sets}
    correct = all(r["correct"] for runs in sets for r in runs)
    ok &= len(shares) == 1 and correct
    print(f"failed share per set: {sorted(shares)}; all correct: {correct}")
    print("AGREE" if ok else "DISAGREE")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
