#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics. From the repository root:

    python3 perfbench/spread.py <workload> <runs> [first_seed]

Runs the benchmark `runs` times on consecutive seeds and prints, per
metric, the median of the values and the spread: the distance between the
first and third quartile (`statistics.quantiles(values, n=4)`) as a share
of the median, next to the metric's bound from BENCHMARK.json.
"""
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    w, n = sys.argv[1], int(sys.argv[2])
    seed0 = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    bench = json.load(open(os.path.join(os.path.dirname(HERE),
                                        "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    vals, secs = {}, []
    for seed in range(seed0, seed0 + n):
        t = time.time()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
             "--trace", "0"], stdout=subprocess.PIPE, text=True)
        secs.append(time.time() - t)
        last = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: exit {out.returncode} in {secs[-1]:.1f} s "
              f"correct={last['correct']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in last["metrics"].items()),
              flush=True)
        for k, v in last["metrics"].items():
            vals.setdefault(k, []).append(v["value"])
    print(f"{w}: {n} runs, {statistics.median(secs):.1f} s median per run")
    for k, xs in vals.items():
        q = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        print(f"  {k:<14} median {med:12.4f}  spread {(q[2] - q[0]) / med:.4f}"
              f"  bound {bounds.get(k)}")


if __name__ == "__main__":
    main()
