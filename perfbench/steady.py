#!/usr/bin/env python3
"""Steadiness check: run every workload in two interleaved sets and
print each set's median and quartiles per end-to-end metric.

    python3 perfbench/steady.py --runs 10 --traced 2

Set A uses seeds 1..N, set B seeds 1001..1000+N; runs alternate A, B
per workload so drift in the host hits both sets alike. ``spread`` is
the distance between the quartiles as a share of the median (what the
bounds in BENCHMARK.json are held against); ``shift`` is B's median
over A's, minus one. With ``--traced K`` it also makes K traced runs per
workload and reports the tracing overhead: the traced CPU per op over
the untraced median, minus one. Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=600, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def summary(values: list[float]) -> tuple[float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3


def main(argv=None) -> int:
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10, help="runs per set")
    ap.add_argument("--traced", type=int, default=0,
                    help="traced runs per workload, for the overhead")
    ap.add_argument("--workload", action="append",
                    help="limit to these workloads (default: all)")
    args = ap.parse_args(argv)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    results = {w: {"A": [], "B": []} for w in workloads}
    for i in range(args.runs):
        for w in workloads:
            for name, seed in (("A", 1 + i), ("B", 1001 + i)):
                res = run_once(w, seed, seconds, 0)
                results[w][name].append(res)
                print(f"{w} set {name} seed {seed}: {json.dumps(res)}",
                      file=sys.stderr)

    for w in workloads:
        print(f"\n{w}: {args.runs} runs per set, {seconds} s each")
        shares = {n: sorted({r["failed"] / r["attempted"] for r in rs})
                  for n, rs in results[w].items()}
        print(f"  failed share  A {shares['A']}  B {shares['B']}")
        print(f"  {'metric':14s} {'bound':>5s}  {'A median [q1, q3]':>28s}"
              f"  {'B median [q1, q3]':>28s}  spread A/B     shift")
        for metric, bound in bounds.items():
            sets = {}
            for n in ("A", "B"):
                sets[n] = summary([r["metrics"][metric]["value"]
                                   for r in results[w][n]])
            (ma, qa1, qa3), (mb, qb1, qb3) = sets["A"], sets["B"]
            print(f"  {metric:14s} {bound:5.2f}  {ma:10.4f} [{qa1:.4f}, {qa3:.4f}]"
                  f"  {mb:10.4f} [{qb1:.4f}, {qb3:.4f}]"
                  f"  {(qa3 - qa1) / ma:.3f}/{(qb3 - qb1) / mb:.3f}"
                  f"  {mb / ma - 1:+.3f}")
        if args.traced:
            traced = []
            for i in range(args.traced):
                res = run_once(w, 2001 + i, seconds, 1)
                print(f"{w} traced seed {2001 + i}: {json.dumps(res)}",
                      file=sys.stderr)
                traced.append(res["metrics"]["process.cpu_s_per_op"]["value"])
            untraced = statistics.median(
                r["metrics"]["cpu_s_per_op"]["value"]
                for rs in results[w].values() for r in rs)
            print(f"  tracing overhead: traced CPU per op "
                  f"{statistics.median(traced):.4f} s over untraced "
                  f"{untraced:.4f} s = {statistics.median(traced) / untraced - 1:+.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
