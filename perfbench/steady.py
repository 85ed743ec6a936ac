"""Steadiness report: run the benchmark as two sets of runs and compare them.

    python3 perfbench/steady.py

For every workload in BENCHMARK.json, each set is ten runs of ``run.py
--workload W --seed S --seconds <run_seconds> --trace 0``, each in its own
process, with seeds 1..10 (the same seeds in both sets). Per workload and
end-to-end metric it prints each set's median and quartiles, the spread
(Q3 - Q1) / median, and whether the sets agree within BENCHMARK.json's
bounds: every spread within its bound, and the second set's median within
the bound of the first set's, in either direction (the signed difference
is printed, negative = better). fail_frac is summed over the runs.
Run from the repository root.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = 10
SETS = 2


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}")
    return json.loads(lines[-1])


def worse_by(first: float, later: float, better: str) -> float:
    """Share by which ``later`` is worse than ``first`` (negative = better)."""
    return (later - first) / first if better == "lower" else (first - later) / first


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics = bench["end_to_end"]
    ok = True
    for w in (w["name"] for w in bench["workloads"]):
        sets = [[one_run(w, seed, bench["run_seconds"]) for seed in range(1, RUNS + 1)]
                for _ in range(SETS)]
        print(f"== {w}: {SETS} sets x {RUNS} runs")
        for m in metrics:
            name, unit, bound = m["name"], m["unit"], m["bound"]
            first_median = None
            for k, runs in enumerate(sets):
                vals = [r["metrics"][name]["value"] for r in runs]
                q1, med, q3 = statistics.quantiles(vals, n=4)
                spread = (q3 - q1) / med
                spread_ok = spread <= bound
                line = (f"  {name:<14} set{k + 1} median {med:.6g} {unit}  Q1 {q1:.6g}  Q3 {q3:.6g}"
                        f"  spread {spread:.3f} (bound {bound}){'' if spread_ok else '  SPREAD>BOUND'}")
                if first_median is None:
                    first_median = med
                else:
                    d = worse_by(first_median, med, m["better"])
                    agree = abs(d) <= bound
                    line += f"  vs set1 {d:+.3f} {'agree' if agree else 'DISAGREE'}"
                    ok &= agree
                ok &= spread_ok
                print(line)
                print(f"  {'':<14} set{k + 1} runs " + " ".join(f"{v:.4g}" for v in vals))
        for k, runs in enumerate(sets):
            att = sum(r["attempted"] for r in runs)
            fail = sum(r["failed"] for r in runs)
            print(f"  {'fail_frac':<14} set{k + 1} {fail / att:.6g} ratio ({fail} of {att} iterations)")
            ok &= fail == 0
        sys.stdout.flush()
    print("STEADY" if ok else "NOT STEADY")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
