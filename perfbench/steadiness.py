#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's metrics.

Runs `perfbench/run.py` once per seed and prints, per metric, the
median, the quartiles (`statistics.quantiles(values, n=4)`) and the
spread: the quartile distance as a share of the median. With
`--burner`, one single-threaded CPU burner runs beside every run, to
show how far the figures move under a neighbour's load.

Usage (from the repository root):
    python3 perfbench/steadiness.py --workload pipeline_mix --seeds 1-10 [--trace 1] [--burner]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--burner", action="store_true")
    a = ap.parse_args()
    if a.seconds is None:
        a.seconds = str(json.load(open("BENCHMARK.json"))["run_seconds"])

    burner = None
    if a.burner:
        burner = subprocess.Popen([sys.executable, "-c", "while True: pass"])
    values = {}
    try:
        for s in seeds_of(a.seeds):
            r = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"),
                                "--workload", a.workload, "--seed", str(s),
                                "--seconds", a.seconds, "--trace", a.trace],
                               stdout=subprocess.PIPE, text=True)
            res = json.loads(r.stdout.strip().splitlines()[-1])
            print(f"seed {s}: exit {r.returncode} " + " ".join(
                f"{k}={m['value']:.6g}" for k, m in res["metrics"].items()), flush=True)
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
    finally:
        if burner:
            burner.kill()
            burner.wait()
    summary = {}
    for k, xs in sorted(values.items()):
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        summary[k] = {"median": med, "q1": q1, "q3": q3, "spread": spread, "n": len(xs)}
        print(f"{k:24s} median {med:12.6g}  q1 {q1:12.6g}  q3 {q3:12.6g}  spread {spread:7.3f}  n {len(xs)}")
    print(json.dumps({"workload": a.workload, "burner": a.burner, "trace": a.trace,
                      "summary": summary}))


if __name__ == "__main__":
    main()
