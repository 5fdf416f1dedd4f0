#!/usr/bin/env python3
"""Attribution self-test of the benchmark's tracing.

1. Two traced runs of the same workload book identical counts to every
   entry: jobs, stages, tasks, exchanges, sql_execs, pin_jobs and
   mb_batches.
2. A run that adds one count() job after one entry books exactly one
   more job to that entry and leaves every other entry unchanged.
3. No job of any run is left unbooked.

Usage: python3 perfbench/selftest.py [workload] [planted entry]
(from the repository root; defaults: pipeline_mix, gr_bfs_hops).
Exits 0 when every check holds.
"""
import json
import os
import subprocess
import sys

COUNTS = ["jobs", "stages", "tasks", "exchanges", "sql_execs", "pin_jobs", "mb_batches"]


def traced_run(workload, extra=()):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "0", "--trace", "1", "--passes", "3", "--raw", *extra]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"selftest: run failed ({r.returncode}): {' '.join(cmd)}")
    return json.loads(lines[-2])


def counts(rec):
    return {e: {k: int(m.get(k, 0)) for k in COUNTS} for e, m in rec["entries"].items()}


def main():
    workload = sys.argv[1] if len(sys.argv) > 1 else "pipeline_mix"
    planted = sys.argv[2] if len(sys.argv) > 2 else "gr_bfs_hops"
    failures = []

    a, b = traced_run(workload), traced_run(workload)
    ca, cb = counts(a), counts(b)
    for e in sorted(ca):
        if ca[e] != cb.get(e):
            failures.append(f"counts differ between identical runs for {e}: {ca[e]} vs {cb.get(e)}")

    p = traced_run(workload, ["--plant-count", planted])
    cp = counts(p)
    for e in sorted(ca):
        want = dict(ca[e])
        if e == planted:
            want["jobs"] += 1
            want["stages"] += 1
            want["tasks"] += 2
        if cp.get(e) != want:
            failures.append(f"planted count(): {e} booked {cp.get(e)}, expected {want}")

    for name, rec in (("first", a), ("second", b), ("planted", p)):
        if rec["unbooked_jobs"] != 0:
            failures.append(f"{name} run left {rec['unbooked_jobs']} jobs unbooked")

    for f in failures:
        print("FAIL", f)
    total = sum(v["jobs"] for v in ca.values())
    print(f"selftest: {len(ca)} entries, {total} jobs per traced pass, "
          f"{len(failures)} failure(s)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
