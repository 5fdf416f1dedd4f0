#!/usr/bin/env python3
"""Suite benchmark: runs one workload of `SparkEntry.queries` entries
in a closed loop at local[4] and prints one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The program is compiled from source
(`perfbench/build.py`); the input tables are the committed sf0.01
parquet set under `perfbench/data/`, grown per workload with
`tools/make_sf_multiple.py --perturb`. The seed fixes the entry order
of every pass. Workloads, their entries and the layer each metric
belongs to are listed in `perfbench/workloads.json`.

With `--trace 0` the result carries the end-to-end metrics; with
`--trace 1` it carries the per-layer metrics of the traced passes.
Every entry's output is checked against its DuckDB oracle
(`tools/verify_local.py`); an entry without an oracle must be non-empty
and give the same digest twice. A failed or mismatching entry makes
the command exit 1.
"""
import argparse
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

CORES = 4
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# per-layer metrics of BENCHMARK.json that are not a plain sum of the
# listeners' counters over a traced pass
DERIVED = {"core_busy_frac", "gc_ms", "driver_cpu_s", "cpu_s", "microbatch_p50_ms",
           "geom_ns_per_px", "unbooked_jobs", "failed_frac", "trace_overhead_frac"}


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def make_data(root, wl, work):
    """Input directory of a workload: the committed base, or a
    perturbed multiple of it built into the run directory."""
    base = os.path.join(root, "perfbench", "data", "sf0.01")
    copies = wl.get("copies", 1)
    if copies == 1:
        return base
    dst = os.path.join(work, "data")
    r = subprocess.run([sys.executable, os.path.join(root, "tools", "make_sf_multiple.py"),
                        base, dst, str(copies), "--perturb"],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail("sf multiple failed:\n" + r.stdout[-2000:])
    return dst


def run_jvm(classpath, work, args, timeout_s):
    # scratch files (Spark's block manager, native-library extraction)
    # stay inside the run directory
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
              f"-Xms{HEAP}", f"-Xmx{HEAP}",
              "-cp", os.pathsep.join(os.path.abspath(c) for c in classpath),
              "perfbench.Suite"] + args)
    # bind the local master to loopback even where the host name does
    # not resolve
    env = dict(os.environ)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=err,
                             text=True)

        # a terminated benchmark takes its JVM with it
        def stop(signum, _frame):
            p.kill()
            p.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = p.communicate(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"suite JVM exceeded {timeout_s} s (log: {log})")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        with open(log) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"suite JVM exited {p.returncode} without a result")
    return json.loads(lines[-1])


def check_outputs(root, data, vout, rows_only):
    """Oracle compare of the dumped outputs; returns {entry: problem}."""
    r = subprocess.run([sys.executable, os.path.join(root, "tools", "verify_local.py"), data, vout],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    bad = {}
    for line in r.stdout.splitlines():
        m = re.match(r"\s*\[(FAIL[^\]]*)\]\s+(\S+?):", line)
        if m:
            bad[m.group(2)] = line.strip()
    if r.returncode != 0 and not bad:
        bad["<compare>"] = r.stdout[-500:]
    for name, v in rows_only.items():
        d1, d2 = v["digests"]
        if int(d1.split(":")[0]) == 0:
            bad[name] = "no oracle and empty output"
        elif d1 != d2:
            bad[name] = f"no oracle and unstable digest {d1} vs {d2}"
    return bad


def trace_overhead(passes):
    """Median ratio of each traced pass to the untraced pass after it,
    minus one. The timed passes still speed up from one to the next
    (JIT warm-up), so this is an upper bound; a mean of the passes on
    both sides read below zero, because the first pass is the slowest
    by far."""
    ratios = [p["wall_s"] / q["wall_s"] for p, q in zip(passes, passes[1:])
              if p["traced"] and not q["traced"]]
    return median(ratios) - 1.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # test hooks (perfbench/selftest.py)
    ap.add_argument("--passes", type=int, help="number of timed passes, instead of --seconds "
                    "(at least 2, or 3 when traced)")
    ap.add_argument("--plant-count", help="add one count() job after this entry")
    ap.add_argument("--raw", action="store_true", help="print the suite's raw record")
    a = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "perfbench", "workloads.json")
    if not os.path.isfile(spec_path):
        fail("run from the repository root (perfbench/workloads.json not found)")
    spec = json.load(open(spec_path))
    bench = json.load(open(os.path.join(root, "BENCHMARK.json")))
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    wanted = [m["name"] for m in bench["per_layer" if a.trace else "end_to_end"]]
    wl = spec["workloads"].get(a.workload)
    if wl is None:
        fail(f"unknown workload {a.workload!r}; known: {', '.join(spec['workloads'])}")
    for need in ("tools/verify_local.py", "tools/make_sf_multiple.py", "src/main/scala"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} missing: the benchmark needs a full source checkout")

    classpath = build.build(root)
    work = os.path.join(root, build.BUILD_DIR, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0_ms = int(time.time() * 1000)
    data = make_data(root, wl, work)
    entries = wl["entries"]
    vout = os.path.join(work, "vout")
    # The timed part is a fixed number of passes that takes about
    # --seconds at the workload's nominal pass time. A count that
    # followed the clock would give a slower run fewer passes, and so a
    # median taken from less far along the JIT warm-up. A traced run
    # needs an untraced pass after its traced one for
    # trace_overhead_frac.
    passes = max(3 if a.trace else 2, a.passes or round(a.seconds / wl["nominal_pass_s"]))
    args = ["--data", os.path.abspath(data), "--entries", ",".join(entries),
            "--seed", str(a.seed), "--passes", str(passes), "--trace", str(a.trace),
            "--verify-out", vout, "--t0-ms", str(t0_ms)]
    if a.plant_count:
        args += ["--plant-count", a.plant_count]
    # guards against a hung JVM only, so a slow program still reports,
    # however slow
    rec = run_jvm(classpath, work, args, timeout_s=900 + 10 * a.seconds)

    bad = dict(rec["errors"])
    bad.update(check_outputs(root, data, vout, rec["verify"]))
    for name, why in sorted(bad.items()):
        sys.stderr.write(f"perfbench: FAILED {name}: {why}\n")
    failed = len(bad)
    attempted = len(entries)
    passes = rec["passes"]
    plain = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    wall = median([p["wall_s"] for p in plain])

    if a.trace:
        per_pass = []
        for p in traced:
            layers = p["layers"]
            m = {k: layers.get(k, 0.0) for k in wanted if k not in DERIVED}
            m["core_busy_frac"] = m["task_run_s"] / (p["wall_s"] * CORES)
            m["gc_ms"] = p["gc_ms"]
            m["driver_cpu_s"] = p["cpu_s"] - m["task_cpu_s"]
            per_pass.append(m)
        metrics = {k: median([m[k] for m in per_pass]) for k in per_pass[0]}
        metrics["microbatch_p50_ms"] = median([t for p in traced for t in p["triggers_ms"]])
        metrics["geom_ns_per_px"] = rec["geom_ns_per_px"]
        metrics["unbooked_jobs"] = rec["unbooked_jobs"]
        metrics["failed_frac"] = failed / attempted
        metrics["trace_overhead_frac"] = trace_overhead(passes)
        metrics["cpu_s"] = median([p["cpu_s"] for p in plain])
    else:
        metrics = {
            "setup_s": rec["setup_s"],
            "pass_s": wall,
            "retained_heap_mb": median([p["heap_mb"] for p in plain]),
        }
    walls = [p["wall_s"] for p in plain]
    spread = (max(walls) - min(walls)) / wall if wall else 0.0
    sys.stderr.write(f"perfbench: {a.workload} pass_s median {wall:.3f} s over {len(walls)} "
                     f"untraced passes (range {spread:.1%} of median), set-up {rec['setup_s']:.1f} s\n")
    if sorted(metrics) != sorted(wanted):
        fail(f"metrics {sorted(metrics)} do not match BENCHMARK.json {sorted(wanted)}")
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": v, "unit": units[k]} for k, v in sorted(metrics.items())}}
    if a.raw:
        print(json.dumps(rec))
    print(json.dumps(out))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
