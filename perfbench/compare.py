#!/usr/bin/env python3
"""Two sets of runs of one tree: are the benchmark's figures steady?

    python3 perfbench/compare.py [--runs 10]

Runs set A and set B of ``--runs`` runs each, interleaved (A B, then
B A, ...) and cycling through every workload of ``BENCHMARK.json``,
every run with its own seed, using the command and run length given
there. For each workload and end-to-end metric it prints each set's
median, quartiles and spread (interquartile distance over median), and
whether the two sets agree: each set's spread within the metric's bound,
and the two medians within the bound of each other. The share of failed
operations must be the same in both sets. Each run's stderr (per-pass
and per-query times) is kept in ``.perfbench/compare/<workload>-<seed>.log``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


LOGS = os.path.join(ROOT, ".perfbench", "compare")


def run_once(bench: dict, workload: str, seed: int) -> dict:
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]),
                              "--trace", "0"]
    os.makedirs(LOGS, exist_ok=True)
    with open(os.path.join(LOGS, f"{workload}-{seed}.log"), "w") as log:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                              stderr=log, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    return json.loads(lines[-1])


def quartiles(values: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = [w["name"] for w in bench["workloads"]]
    results = {(s, w): [] for s in "AB" for w in workloads}
    for i in range(args.runs):
        for s in ("AB" if i % 2 == 0 else "BA"):
            for w in workloads:
                seed = (1000 if s == "A" else 2000) + i
                res = run_once(bench, w, seed)
                results[(s, w)].append(res)
                print(f"run {s}{i} {w} seed {seed}: " + json.dumps(res),
                      file=sys.stderr, flush=True)
    ok = True
    for w in workloads:
        shares = {s: [r["failed"] / r["attempted"] for r in results[(s, w)]]
                  for s in "AB"}
        same_share = len(set(shares["A"] + shares["B"])) == 1
        ok &= same_share and all(r["correct"] for s in "AB"
                                 for r in results[(s, w)])
        print(f"{w}: failed share A {sorted(set(shares['A']))} "
              f"B {sorted(set(shares['B']))} same={same_share}")
        for m in bench["end_to_end"]:
            vals = {s: [r["metrics"][m["name"]]["value"] for r in results[(s, w)]]
                    for s in "AB"}
            qa, qb = quartiles(vals["A"]), quartiles(vals["B"])
            sa, sb = ((q[2] - q[0]) / q[1] for q in (qa, qb))
            diff = (qb[1] - qa[1]) / qa[1]
            agree = max(sa, sb, abs(diff)) <= m["bound"]
            ok &= agree
            print(f"  {m['name']:16s} A {qa[1]:10.4f} [{qa[0]:.4f}, {qa[2]:.4f}]"
                  f" spread {sa:6.1%}  B {qb[1]:10.4f} [{qb[0]:.4f}, {qb[2]:.4f}]"
                  f" spread {sb:6.1%}  B-A {diff:+6.1%}"
                  f"  (bound {m['bound']:.0%}) agree={agree}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
