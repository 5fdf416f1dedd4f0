#!/usr/bin/env python3
"""Parallel verify_local over an outDir (harness-side, for rehearsal
SFs where the compare is python-canon-bound on multi-million-row
results — the r15 sf3.0 phase ran ~4× faster sharded).

Usage: python3 tools/shard_compare.py <sfDir> <outDir> [nShards] [only_regex]

Splits the outDir's entries into nShards symlink dirs (each with its
own oracle_sql.json subset; oracle entries with NO dump dir are
reported up front as [FAIL-miss] and counted into the combined fail
tally — they belong to no shard), runs one verify_local per shard
concurrently, streams
their logs to <outDir>_shard<i>.log, and prints the combined tally.
The shards' per-entry timings are merged into <outDir>/verify_times.json.
Resource bounds per shard via the verify_local envs (defaults here:
memory_limit = 80GB/nShards, threads = 24/nShards, shared temp dir) —
the r15 lesson: unbounded concurrent spills can fill the disk and
DuckDB aborts the whole process with a C++ IO exception.
"""
import json
import os
import re
import subprocess
import sys
import glob


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    n = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    only = re.compile(sys.argv[4]) if len(sys.argv) > 4 else None
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    dirs = sorted(os.path.basename(d) for d in glob.glob(f"{out_dir}/*")
                  if os.path.isdir(d) and (only is None or only.search(os.path.basename(d))))
    # r15 ADVICE (medium): oracle entries with NO dump dir (a failed
    # query — Verify deletes its stale dump) would otherwise land in no
    # shard's oracle subset, and the FAIL-miss red signal an unsharded
    # verify_local emits for them would be silently lost. Surface them
    # here, up front, and count them into the combined fail tally.
    missing = sorted(k for k in oracle if k not in set(dirs)
                     and (only is None or only.search(k)))
    for k in missing:
        print(f"[FAIL-miss] {k}: oracle entry has no dumped result dir")
    # r16 (ADVICE #2): the old round-robin split serialized giant
    # entries into whichever shard alphabetical order dealt them (one
    # sf10 shard drew 3 of the 15M-row giants and ran hours behind its
    # siblings). Largest-first bin packing (LPT greedy on dump bytes —
    # the best stand-in for compare cost): sort entries by total
    # parquet size descending, assign each to the currently-lightest
    # shard.
    def _dump_bytes(name):
        return sum(os.path.getsize(f)
                   for f in glob.glob(os.path.join(out_dir, name, "*.parquet")))
    shards = [[] for _ in range(n)]
    loads = [0] * n
    for name in sorted(dirs, key=_dump_bytes, reverse=True):
        i = loads.index(min(loads))
        shards[i].append(name)
        loads[i] += _dump_bytes(name)
    procs = []
    env_base = dict(os.environ)
    env_base.setdefault("VERIFY_DUCKDB_MEM", f"{max(8, 80 // n)}GB")
    env_base.setdefault("VERIFY_DUCKDB_THREADS", str(max(2, 24 // n)))
    # NOTE: the temp dir is suffixed per shard below — concurrent
    # DuckDB instances sharing one temp_directory collide on the same
    # duckdb_temp_storage-N.tmp names, and one instance unlinking the
    # other's spill file aborts the whole process with an IOException
    # (bit the r16 sf10 run: shard1 died SIGABRT mid-gate).
    # r17 VERDICT #4: concurrent launches collided on the fixed
    # <outDir>_shard<i> names — a mid-run re-split clobbered a
    # sibling's queue and logs (~40 min of recompares at the sf30
    # rung). Shard dirs/logs/temps now carry the launcher pid; stale
    # dirs from DEAD launchers (and the pre-pid name format) are
    # reaped, live siblings' dirs are left alone.
    pid = os.getpid()

    def _launcher_alive(path):
        m = re.search(r"_shard(\d+)p\d+$", path)
        if not m:
            return False  # pre-pid format: always stale
        lp = int(m.group(1))
        if lp == pid:
            return False  # pid-reuse leftover: ours now, safe to reap
        try:
            os.kill(lp, 0)
            return True
        except ProcessLookupError:
            return False
        except PermissionError:
            return True  # alive under another uid

    for sd in glob.glob(f"{out_dir}_shard*"):
        if os.path.isdir(sd) and not _launcher_alive(sd):
            for entry in os.listdir(sd):
                p = os.path.join(sd, entry)
                if os.path.islink(p) or os.path.isfile(p):
                    os.unlink(p)
            try:
                os.rmdir(sd)
            except OSError:
                pass
    for i, names in enumerate(shards):
        sd = f"{out_dir}_shard{pid}p{i}"
        os.makedirs(sd, exist_ok=True)
        for name in names:
            dst = os.path.join(sd, name)
            os.symlink(os.path.abspath(os.path.join(out_dir, name)), dst)
        json.dump({k: oracle[k] for k in names if k in oracle},
                  open(os.path.join(sd, "oracle_sql.json"), "w"))
        log = open(f"{sd}.log", "w")
        env = dict(env_base)
        env["VERIFY_DUCKDB_TEMP"] = env_base.get(
            "VERIFY_DUCKDB_TEMP", f"{out_dir}_duck_tmp") + f"_{pid}p{i}"
        procs.append((subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "verify_local.py"),
             sf_dir, sd], stdout=log, stderr=subprocess.STDOUT, env=env), sd))
        print(f"shard{i}: {len(names)} entries -> {sd}.log")
    ok, fail = 0, len(missing)
    times = {}
    for p, sd in procs:
        p.wait()
        try:
            times.update(json.load(open(os.path.join(sd, "verify_times.json"))))
        except (OSError, ValueError):
            pass  # shard died before writing it; its log says why
        txt = open(f"{sd}.log").read()
        ok += len(re.findall(r"\[OK[^\]]*\]", txt))
        fail += len(re.findall(r"\[FAIL", txt))
        if p.returncode != 0:
            print(f"WARNING: {sd} exited {p.returncode} (DuckDB abort? check its log)")
    with open(os.path.join(out_dir, "verify_times.json"), "w") as f:
        json.dump(dict(sorted(times.items())), f, indent=1)
    print(f"== combined: {ok} ok, {fail} fail "
          f"across {len(dirs) + len(missing)} entries"
          + (f" ({len(missing)} FAIL-miss: oracle with no dump)" if missing else ""))
    sys.exit(1 if fail or ok < len(dirs) else 0)


if __name__ == "__main__":
    main()
