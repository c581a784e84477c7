#!/usr/bin/env python3
"""Tracing overhead per workload. From the repository root:

    python3 perfbench/overhead.py <workload> <runs> [first_seed]

For each of `runs` consecutive seeds, runs the benchmark untraced and then
traced alone (`--trace 1 --only`, one JVM per run in both cases, so the
traced iteration sits where the untraced measured iteration sits) and
prints the median over the seeds of traced `<workload>.traced_wall_s`
minus untraced `wall_s`, absolute and as a share of the untraced value.
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def last_json(w, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)] + (["--only"] if trace else [])
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    res = json.loads(out.stdout.strip().splitlines()[-1])
    if out.returncode != 0 or not res["correct"]:
        raise SystemExit(f"seed {seed} trace={trace}: exit {out.returncode}")
    return res["metrics"]


def main():
    w, n = sys.argv[1], int(sys.argv[2])
    seed0 = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    seconds = json.load(open(os.path.join(os.path.dirname(HERE),
                                          "BENCHMARK.json")))["run_seconds"]
    diffs, base = [], []
    for seed in range(seed0, seed0 + n):
        plain = last_json(w, seed, seconds, 0)["wall_s"]["value"]
        traced = last_json(w, seed, seconds, 1)[f"{w}.traced_wall_s"]["value"]
        diffs.append(traced - plain)
        base.append(plain)
        print(f"seed {seed}: untraced {plain:.3f} s, traced {traced:.3f} s, "
              f"difference {traced - plain:+.3f} s", flush=True)
    d, b = statistics.median(diffs), statistics.median(base)
    print(f"{w}: median traced - untraced over {n} seeds: {d:+.3f} s "
          f"({d / b:+.1%} of the untraced median {b:.3f} s)")


if __name__ == "__main__":
    main()
