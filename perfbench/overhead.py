#!/usr/bin/env python3
"""Tracing overhead: the end-to-end metrics of timed and traced runs.

    python3 perfbench/overhead.py --workload iterative --seeds 1,2,3,4,5,6

Runs each seed once with --trace 0 and once with --trace 1, alternating
which goes first. Prints each run's end-to-end metrics as it ends, then
each metric's median over the seeds for both, with traced/timed and the
timed runs' spread (IQR over median).
"""
import argparse
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402
import pools  # noqa: E402
import run  # noqa: E402


def spread(values):
    q = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q[2] - q[0]) / med if med else float("nan")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(pools.WORKLOADS))
    ap.add_argument("--seeds", required=True)
    a = ap.parse_args()
    got = {0: [], 1: []}
    for i, seed in enumerate(int(s) for s in a.seeds.split(",")):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            e2e = run.run(a.workload, seed, trace)[0]
            got[trace].append(e2e)
            print(f"seed {seed} trace {trace} "
                  + " ".join(f"{n}={e2e[n]:.6g}" for n, _ in metrics.END_TO_END), flush=True)
    print(f"{'metric':18s} {'timed':>10s} {'traced':>10s} {'traced/timed':>13s} {'timed IQR/med':>14s}")
    for name, unit in metrics.END_TO_END:
        off = [m[name] for m in got[0]]
        on = statistics.median(m[name] for m in got[1])
        ratio = f"{on / statistics.median(off):.3f}" if statistics.median(off) else "-"
        iqr = f"{spread(off):.3f}" if len(off) > 1 else "-"
        print(f"{name:18s} {statistics.median(off):10.4g} {on:10.4g} {ratio:>13s} {iqr:>14s}  {unit}")


if __name__ == "__main__":
    main()
