#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate (NOT part of the Scala
library): run after `sbt "runMain graft.Verify <sfDir> <outDir>"`.

For each query output parquet in <outDir>, run the matching oracle SQL from
oracle_sql.json in DuckDB over the same testdata parquet tables, then
compare: schema (column names sorted), row count, and values (exact for
ints/strings, bitwise for floats — the strictest plausible driver compare).

Usage: python3 tools/verify_local.py <sfDir> <outDir>

Timing: <outDir>/verify_times.json maps each compared entry to its
wall seconds in three parts — fetch_s (reading the Spark dump: row
count, rows or digest), oracle_s (running the oracle SQL in DuckDB and
fetching its rows or digest; 0 when an identical oracle's result is
reused) and canon_s (canonicalizing and comparing both row sets).
tools/shard_compare.py merges its shards' timing files into the same
<outDir>/verify_times.json.

Giant-result fast path (r16, ADVICE #1): the python tuple canon is
O(rows) RAM and wall — a 45M-row result is a multi-hour single-threaded
compare holding ~20 GB. For results past VERIFY_FASTPATH_ROWS
(default 1,000,000; set 1 to force it everywhere for parity testing),
both sides are instead canonicalized and hash-aggregated INSIDE DuckDB:
each row reduces to hash(col_exprs...) over columns sorted by name,
and the compare is (count, bit_xor(rowhash), sum(rowhash)) — one
digest triple per side, streamed, never materializing rows in python.
The per-column expressions mirror canon()'s semantics exactly:
type-CLASS tags so int/float/decimal/bool cross-class equality fails
like the tuple compare does; floats widened REAL->DOUBLE then compared
via shortest-roundtrip text (bijective with the double value, i.e.
bitwise modulo the same -0.0==0.0 and NaN==NaN normalizations python
== applies); list float elements rounded to 9 dp like canon(); decimal
trailing-zero trim mirroring Decimal numeric equality. Unsupported
types (structs, nested lists) fall back to the python path regardless
of size. One DOCUMENTED semantic difference: the digest is a multiset
compare (order-insensitive), per the prescription — ordering defects
still surface through the python path at the small SFs every entry
also runs at. Self-test: tools/fastpath_selftest.py proves tally
parity vs the python path on a full gate dump plus planted-mismatch
trips.
"""
import json, math, sys, glob, os, time
import duckdb

# ---------------------------------------------------------------- fast path

def _elem_expr(duck_type, x):
    """Canonical VARCHAR expr for a LIST element of the given inner type
    (python canon() rounds list floats to 9 dp; null element -> 'N')."""
    t = duck_type.upper()
    if t in ("DOUBLE", "FLOAT", "REAL"):
        d = f"CAST({x} AS DOUBLE)"
        return (f"CASE WHEN {x} IS NULL THEN 'N' "
                f"WHEN isnan({d}) THEN 'f:NaN' "
                f"WHEN round({d}, 9) = 0 THEN 'f:0.0' "
                f"ELSE 'f:' || CAST(round({d}, 9) AS VARCHAR) END")
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT"):
        return f"CASE WHEN {x} IS NULL THEN 'N' ELSE 'i:' || CAST({x} AS VARCHAR) END"
    if t == "VARCHAR":
        return f"CASE WHEN {x} IS NULL THEN 'N' ELSE 's:' || {x} END"
    if t == "BOOLEAN":
        return f"CASE WHEN {x} IS NULL THEN 'N' ELSE 'b:' || CAST({x} AS VARCHAR) END"
    return None

def _col_expr(duck_type, c):
    """Canonical expr for column `c` of DuckDB type `duck_type`, or None
    if the type isn't fast-path-supported. NULL stays SQL NULL (hash()
    treats it uniformly, mirroring python None == None across types)."""
    t = duck_type.upper()
    if t in ("DOUBLE", "FLOAT", "REAL"):
        # scalar floats: canon() does NOT round — python == is value
        # equality, i.e. bitwise modulo -0.0==0.0 / NaN==NaN. Shortest-
        # roundtrip text of the widened DOUBLE is bijective with its
        # value, so text equality == python float equality after the
        # same two normalizations.
        d = f"CAST({c} AS DOUBLE)"
        return (f"CASE WHEN {c} IS NULL THEN NULL "
                f"WHEN isnan({d}) THEN 'f:NaN' "
                f"WHEN {d} = 0 THEN 'f:0.0' "
                f"ELSE 'f:' || CAST({d} AS VARCHAR) END")
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT"):
        return f"'i:' || CAST({c} AS VARCHAR)"
    if t == "VARCHAR":
        return f"'s:' || {c}"
    if t == "BOOLEAN":
        return f"'b:' || CAST({c} AS VARCHAR)"
    if t.startswith("DECIMAL"):
        # python Decimal equality is numeric (5.0 == 5.00): trim
        # trailing fraction zeros; -0.00 normalizes to 0
        v = f"CAST({c} AS VARCHAR)"
        return (f"CASE WHEN {c} IS NULL THEN NULL WHEN {c} = 0 THEN 'd:0' "
                f"ELSE 'd:' || CASE WHEN {v} LIKE '%.%' "
                f"THEN rtrim(rtrim({v}, '0'), '.') ELSE {v} END END")
    if t == "DATE":
        return f"'D:' || CAST({c} AS VARCHAR)"
    if t.startswith("TIMESTAMP"):
        # python datetime is µs-precision; normalize both sides to µs
        return f"'T:' || CAST(CAST({c} AS TIMESTAMP) AS VARCHAR)"
    if t == "BLOB":
        return f"'x:' || hex({c})"
    if t.endswith("[]"):
        inner = _elem_expr(t[:-2], "x")
        if inner is None:
            return None
        return (f"CASE WHEN {c} IS NULL THEN NULL "
                f"ELSE 'l:' || CAST(list_transform({c}, x -> {inner}) AS VARCHAR) END")
    return None

def _digest_exprs(cols_types):
    """hash(...) over canonical col exprs in sorted-column-name order,
    or None if any column type is unsupported."""
    exprs = []
    for name, t in sorted(cols_types, key=lambda ct: ct[0]):
        e = _col_expr(t, f'"{name}"')
        if e is None:
            return None
        exprs.append(e)
    return f"hash({', '.join(exprs)})"

def _digest(con, src_sql, cols_types):
    """(count, bit_xor(rowhash), sum(rowhash)) over src_sql, or None if
    a column type is unsupported."""
    h = _digest_exprs(cols_types)
    if h is None:
        return None
    q = (f"SELECT count(*), bit_xor(h), sum(CAST(h AS HUGEINT)) "
         f"FROM (SELECT {h} AS h FROM ({src_sql}))")
    n, hx, hs = con.execute(q).fetchone()
    return (int(n), None if hx is None else int(hx),
            None if hs is None else int(hs))

def _describe(con, src_sql):
    return [(r[0], r[1]) for r in
            con.execute(f"DESCRIBE ({src_sql})").fetchall()]

def _fast_compare(con, name, spark_src, sql, memo, uses, times=None):
    """Digest compare for a giant result. Returns True (OK) / False
    (FAIL, already printed) / None (not eligible or errored -> caller
    falls back to the python tuple compare). Adds the spark-side and
    oracle-side digest seconds to times["fetch_s"] / times["oracle_s"]
    when a times dict is given."""
    if times is None:
        times = {"fetch_s": 0.0, "oracle_s": 0.0}
    try:
        t0 = time.perf_counter()
        gct = _describe(con, spark_src)
        if _digest_exprs(gct) is None:
            print(f"  [fastpath ] {name}: unsupported spark column type -> python compare")
            return None
        ect = _describe(con, sql)
        if _digest_exprs(ect) is None:
            print(f"  [fastpath ] {name}: unsupported oracle column type -> python compare")
            return None
        gnames, enames = sorted(c for c, _ in gct), sorted(c for c, _ in ect)
        if gnames != enames:
            print(f"  [FAIL-cols] {name}: spark={gnames} duckdb={enames}")
            uses[sql] -= 1
            return False
        dg = _digest(con, spark_src, gct)
        t1 = time.perf_counter()
        times["fetch_s"] += t1 - t0
        if sql in memo:
            de = memo[sql]
        else:
            de = _digest(con, sql, ect)
            if uses[sql] > 1:
                memo[sql] = de
        times["oracle_s"] += time.perf_counter() - t1
        uses[sql] -= 1
        if sql in memo and uses[sql] <= 0:
            del memo[sql]
        if dg[0] != de[0]:
            print(f"  [FAIL-rows] {name}: spark={dg[0]} duckdb={de[0]} (fastpath)")
            return False
        if dg != de:
            print(f"  [FAIL-vals] {name}: digest mismatch over {dg[0]} rows "
                  f"(fastpath xor/sum: spark={dg[1]}/{dg[2]} duckdb={de[1]}/{de[2]}) "
                  f"-- rerun with VERIFY_FASTPATH_ROWS unset high for row diagnostics")
            return False
        print(f"  [OK-digest] {name}: {dg[0]} rows (fastpath)")
        return True
    except Exception as e:
        print(f"  [fastpath ] {name}: error ({str(e)[:160]}) -> python compare")
        return None

# --------------------------------------------------------------- python path

def _tag(x):
    # r7 lesson: the driver's compare distinguishes int64 from float64
    # (DuckDB sum(int) -> HUGEINT -> pandas float64), so 1002 != 1002.0
    # there. Tag numeric scalars with their Python type so the local
    # mirror fails the same way instead of passing on == coercion.
    if isinstance(x, bool):
        return x
    if isinstance(x, float):
        return ("f", "NaN") if math.isnan(x) else ("f", x)
    if isinstance(x, int):
        return ("i", x)
    return x

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, list):
                v = tuple(_tag(round(x, 9)) if isinstance(x, float) else _tag(x)
                          for x in v)
            else:
                v = _tag(v)
            vals.append(v)
        out.append(tuple(vals))
    return out

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    # optional resource bounds for rehearsal-scale runs (r15: two
    # concurrent compares' spills transiently filled the disk and one
    # DuckDB aborted the whole process with a C++ IO exception — cap
    # memory so spills start earlier but stay bounded, and point temp
    # at a scratch dir that is observable/cleanable)
    if os.environ.get("VERIFY_DUCKDB_MEM"):
        con.execute(f"SET memory_limit='{os.environ['VERIFY_DUCKDB_MEM']}'")
    if os.environ.get("VERIFY_DUCKDB_THREADS"):
        con.execute(f"SET threads={int(os.environ['VERIFY_DUCKDB_THREADS'])}")
    if os.environ.get("VERIFY_DUCKDB_TEMP"):
        os.makedirs(os.environ["VERIFY_DUCKDB_TEMP"], exist_ok=True)
        con.execute(f"SET temp_directory='{os.environ['VERIFY_DUCKDB_TEMP']}'")
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_ok = n_fail = n_noracle = 0
    # identical oracle SQL -> one evaluation (r14 ADVICE): entries that
    # SHARE a truth by design (dd_minhash_lsh / st_stream_minhash use
    # one oracle string so their plants can't drift apart) would
    # otherwise pay it twice - ~25 min each at rehearsal SFs. Only SQL
    # that actually repeats is retained: memoizing every result would
    # hold the whole gate's rows in RAM at once (GBs at rehearsal SFs)
    # for no benefit.
    from collections import Counter
    # count uses only among entries that HAVE a dump: an oracle shared
    # with a failed (undumped) entry would otherwise never reach zero
    # uses and its memoized result would sit in RAM to process end
    dumped_names = {os.path.basename(p)
                    for p in glob.glob(os.path.join(out_dir, "*"))
                    if os.path.isdir(p)}
    sql_uses = Counter(v for k, v in oracle.items() if k in dumped_names)
    oracle_memo = {}
    digest_memo = {}
    entry_times = {}
    fast_rows = int(os.environ.get("VERIFY_FASTPATH_ROWS", "1000000"))
    refuse_rows = int(os.environ.get("VERIFY_REFUSE_ROWS", "1000000"))
    for qdir in sorted(glob.glob(os.path.join(out_dir, "*"))):
        name = os.path.basename(qdir)
        if not os.path.isdir(qdir):
            continue
        spark_src = f"SELECT * FROM read_parquet('{qdir}/*.parquet')"
        times = entry_times[name] = {"fetch_s": 0.0, "oracle_s": 0.0, "canon_s": 0.0}
        t0 = time.perf_counter()
        nrows = con.execute(f"SELECT count(*) FROM ({spark_src})").fetchone()[0]
        times["fetch_s"] += time.perf_counter() - t0
        if name not in oracle:
            print(f"  [rows-only] {name}: {nrows} rows")
            n_noracle += 1
            continue
        if nrows >= fast_rows:
            res = _fast_compare(con, name, spark_src, oracle[name],
                                digest_memo, sql_uses, times)
            if res is not None:
                if res:
                    n_ok += 1
                else:
                    n_fail += 1
                continue
            # r17 VERDICT #5: a fastpath refusal (unsupported column
            # type / digest error) on a GIANT must not silently fall
            # back to the python tuple compare — fetchall() at sf30 row
            # counts was measured at ~90 GB RSS and killed two compare
            # processes. Report a resource failure to fix at the
            # dump/oracle (cast the column, split the entry) instead.
            # The threshold is separate from VERIFY_FASTPATH_ROWS so
            # the selftest's forced-fastpath parity sweep (=1) still
            # exercises the documented small-result fall-back.
            if nrows >= refuse_rows:
                print(f"  [FAIL-resource] {name}: {nrows} rows and the digest "
                      f"fastpath refused (see message above) — python compare "
                      f"at this size OOMs the host; fix the dump/oracle types "
                      f"or raise VERIFY_REFUSE_ROWS explicitly")
                sql_uses[oracle[name]] -= 1
                n_fail += 1
                continue
        t0 = time.perf_counter()
        got = con.execute(spark_src)
        gcols = [d[0] for d in got.description]
        grows = got.fetchall()
        t1 = time.perf_counter()
        times["fetch_s"] += t1 - t0
        try:
            sql = oracle[name]
            if sql in oracle_memo:
                ecols, erows = oracle_memo[sql]
            else:
                exp = con.execute(sql)
                ecols = [d[0] for d in exp.description]
                erows = exp.fetchall()
                if sql_uses[sql] > 1:
                    oracle_memo[sql] = (ecols, erows)
            # evict after the LAST consumer: without this, several full
            # result sets (GB-scale at rehearsal SFs) sit in RAM for the
            # rest of the run; with it, peak memo memory is one shared
            # result set at a time (r14 ADVICE)
            sql_uses[sql] -= 1
            if sql in oracle_memo and sql_uses[sql] <= 0:
                del oracle_memo[sql]
        except Exception as e:
            print(f"  [FAIL-sql ] {name}: oracle error: {str(e)[:200]}")
            n_fail += 1
            continue
        finally:
            times["oracle_s"] += time.perf_counter() - t1
        if sorted(gcols) != sorted(ecols):
            print(f"  [FAIL-cols] {name}: spark={sorted(gcols)} duckdb={sorted(ecols)}")
            n_fail += 1
            continue
        if len(grows) != len(erows):
            print(f"  [FAIL-rows] {name}: spark={len(grows)} duckdb={len(erows)}")
            n_fail += 1
            continue
        t0 = time.perf_counter()
        g, e = canon(grows, gcols), canon(erows, ecols)
        # compare both order-sensitively and as multisets
        mismatch = [i for i, (a, b) in enumerate(zip(g, e)) if a != b]
        times["canon_s"] += time.perf_counter() - t0
        if mismatch:
            i = mismatch[0]
            print(f"  [FAIL-vals] {name}: {len(mismatch)}/{len(g)} rows differ; first @{i}:")
            print(f"      spark : {g[i]}")
            print(f"      duckdb: {e[i]}")
            n_fail += 1
        else:
            print(f"  [OK       ] {name}: {len(g)} rows")
            n_ok += 1
    # entries with an oracle but NO dump are failed/missing queries —
    # count them red instead of silently skipping (r11: a failed entry
    # now deletes its stale dump, so absence is the failure signal)
    dumped = {os.path.basename(q) for q in glob.glob(os.path.join(out_dir, "*"))
              if os.path.isdir(q)}
    for name in sorted(set(oracle) - dumped):
        print(f"  [FAIL-miss] {name}: no spark dump (query failed?)")
        n_fail += 1
    with open(os.path.join(out_dir, "verify_times.json"), "w") as f:
        json.dump({k: {m: round(v, 3) for m, v in t.items()}
                   for k, t in sorted(entry_times.items())}, f, indent=1)
    print(f"== {n_ok} ok, {n_fail} fail, {n_noracle} rows-only")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
