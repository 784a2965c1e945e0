#!/usr/bin/env python3
"""Tracing overhead and self-time report.

    python3 perfbench/overhead.py [--seeds 1,2,3] [--seconds 10] [workload ...]

For each workload, runs the benchmark untraced and traced on each seed and
prints the median op latency of both and their difference (the tracing
overhead), then the self-time table summed over the traced runs from
.bench_out/trace/<workload>-seed<n>.self.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, check=True).stdout.decode().splitlines()
    if trace == 0:
        return json.loads(out[-1])["metrics"]["op_p50_ms"]["value"]
    return float(next(l for l in out if l.startswith("# traced op_p50_ms")).split()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1,2,3")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("workloads", nargs="*",
                    default=["ingest", "dashboard"])
    a = ap.parse_args()
    seeds = [int(s) for s in a.seeds.split(",")]
    for w in a.workloads:
        plain, traced = [], []
        for s in seeds:  # alternate so host drift hits both sides alike
            plain.append(run(w, s, a.seconds, 0))
            traced.append(run(w, s, a.seconds, 1))
        p, t = statistics.median(plain), statistics.median(traced)
        print(f"{w}: op_p50_ms untraced {p:.1f} traced {t:.1f} "
              f"overhead {t - p:+.1f} ms ({100 * (t - p) / p:+.1f}%) over {len(seeds)} seeds")
        rows = {}
        for s in seeds:
            with open(os.path.join(ROOT, ".bench_out", "trace", f"{w}-seed{s}.self.json")) as f:
                for r in json.load(f):
                    k = (r["layer"], r["name"])
                    acc = rows.setdefault(k, [0, 0.0, 0.0])
                    acc[0] += r["count"]
                    acc[1] += r["total_ms"]
                    acc[2] += r["self_ms"]
        for (layer, name), (n, tot, self_ms) in sorted(rows.items()):
            print(f"  {layer:9s} {name:24s} n={n:5d} total_ms={tot:10.1f} self_ms={self_ms:10.1f}")


if __name__ == "__main__":
    main()
