#!/usr/bin/env python3
"""Local oracle harness (dev-only, mirrors the driver's t2 gate).

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [query,query,...]

Reads each <verifyOutDir>/<query>/ parquet written by graft.Verify, runs the
matching SQL from oracle_sql.json in DuckDB over the sfDir tables, and
compares: column names (sorted), row counts, and exact values on rows sorted
by all columns. Exits nonzero on any mismatch.

--types (r15): ALSO compare the DuckDB result-type CLASS of every column on
both sides. fetchall() maps HUGEINT and BIGINT both to Python int, so a
HUGEINT emitted by an oracle is invisible here but converts to pandas
float64 / arrow decimal128 on the driver and hash-mismatches the engine's
int64 (the corpus_curriculum r13/r14 red). The class map groups widths
(int32 vs int64 compare equal — the driver tolerates those) and isolates
the risk classes: HUGEINT and DECIMAL emitted against an engine int/float.

--fork N (r15): run the sweep in fresh SUBPROCESSES of N queries each,
dealt round-robin, as many at once as there are CPUs (a forked gate's
"sec" then includes waiting for CPUs that other chunks' DuckDB threads
hold). Each chunk writes its own check_status.json.chunk<i>, which the
parent merges into check_status.json.
Per-query connection isolation (the r14 fix) is not always enough: duckdb
keeps process-global allocations, and the r15 sf0.1 close sweep OOM'd the
whole python process ~120 queries in (the recursive-CTE graph oracles
again — all pass in a fresh process). --fork 40 keeps every chunk's
footprint bounded no matter how many queries the registry grows to.

Every run writes <verifyOutDir>/check_status.json, one {"ok", "sec"} entry
per gate checked (sec: wall seconds of the gate's DuckDB check); a run over
a gate subset adds its gates to the file. A full or forked run ends by
printing the 20 slowest gates.
"""
import json, math, multiprocessing, os, sys, time
from concurrent.futures import ThreadPoolExecutor
import duckdb


def tclass(t):
    s = str(t).upper()
    if s in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if s in ("HUGEINT", "UHUGEINT"):
        return "HUGEINT(!driver-float64)"
    if s in ("FLOAT", "DOUBLE"):
        return "float"
    if s.startswith("DECIMAL"):
        return "decimal(!check-vs-engine)"
    return s

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def key(row):
    return tuple((x is None, str(type(x)), str(x)) for x in row)


def connect(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


CHECK_TYPES = False


def main(sf_dir, out_dir, only=None):
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    if only:  # dev-only subset: iterate on one query without a full dump
        oracle = {k: v for k, v in oracle.items() if k in only}
    status, failures = check(sf_dir, out_dir, sorted(oracle))
    write_status(out_dir, status, merge=only is not None)
    if only is None:
        print_slowest(status)
    if failures:
        print(f"\n{len(failures)} FAILED: {failures}")
        sys.exit(1)
    print(f"\nall {len(oracle)} queries match")


def check(sf_dir, out_dir, names):
    """Check the named gates; returns ({name: {"ok", "sec"}}, failed names)."""
    # fresh connection PER QUERY: a single long-lived connection exhausted
    # its memory/temp budget ~300 queries into the r14 sf0.1 sweep and
    # failed three recursive-CTE graph oracles that pass in a fresh
    # session — per-query isolation keeps one oracle's residue from
    # failing another (the views are metadata-only, so reconnects are
    # effectively free)
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    failures = []
    status = {}
    for name in names:
        t0 = time.perf_counter()
        failed_before = len(failures)
        con = connect(sf_dir)
        try:
            run_one(con, out_dir, name, oracle[name], failures)
        finally:
            con.close()
        status[name] = {"ok": len(failures) == failed_before,
                        "sec": round(time.perf_counter() - t0, 3)}
    return status, failures


def run_one(con, out_dir, name, sql, failures):
        try:
            got = con.sql(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
            got_cols = got.columns
            got_rows = got.fetchall()
            exp = con.sql(sql)
            exp_cols = exp.columns
            exp_rows = exp.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: error {e}")
            return
        if sorted(got_cols) != sorted(exp_cols):
            failures.append(name)
            print(f"FAIL {name}: columns {sorted(got_cols)} != {sorted(exp_cols)}")
            return
        if CHECK_TYPES:
            gt = dict(zip(got_cols, [tclass(t) for t in got.types]))
            et = dict(zip(exp_cols, [tclass(t) for t in exp.types]))
            badt = {c: (gt[c], et[c]) for c in gt if gt[c] != et[c]}
            if badt:
                failures.append(name)
                print(f"FAIL {name}: type classes differ (engine, oracle): {badt}")
                return
        # align column order by sorted name
        gi = [got_cols.index(c) for c in sorted(got_cols)]
        ei = [exp_cols.index(c) for c in sorted(exp_cols)]
        g = sorted((tuple(norm(r[i]) for i in gi) for r in got_rows), key=key)
        e = sorted((tuple(norm(r[i]) for i in ei) for r in exp_rows), key=key)
        if len(g) != len(e):
            failures.append(name)
            print(f"FAIL {name}: rows {len(g)} != {len(e)}")
            return
        bad = [(a, b) for a, b in zip(g, e) if a != b]
        if bad:
            failures.append(name)
            print(f"FAIL {name}: {len(bad)} differing rows; first: ")
            print("  spark :", bad[0][0])
            print("  oracle:", bad[0][1])
            return
        print(f"PASS {name} ({len(g)} rows)")


def status_path(out_dir):
    return os.path.join(out_dir, "check_status.json")


def write_status(out_dir, status, merge):
    """Write the per-gate status; a subset run (merge) adds its gates to
    what earlier runs wrote."""
    if merge and os.path.exists(status_path(out_dir)):
        with open(status_path(out_dir)) as f:
            status = {**json.load(f), **status}
    with open(status_path(out_dir), "w") as f:
        json.dump(dict(sorted(status.items())), f, indent=1)


def print_slowest(status, n=20):
    slow = sorted(status.items(), key=lambda kv: -kv[1]["sec"])[:n]
    total = sum(v["sec"] for v in status.values())
    print(f"\n{len(slow)} slowest of {len(status)} gates ({total:.1f} s in all):")
    for name, v in slow:
        print(f"  {v['sec']:8.2f} s  {name}{'' if v['ok'] else '  (FAILED)'}")


def run_chunk(sf_dir, out_dir, check_types, names, path):
    """One --fork chunk, in a fresh process: checks `names` and writes
    their status to the chunk's own file, `path`."""
    global CHECK_TYPES
    CHECK_TYPES = check_types
    status, _ = check(sf_dir, out_dir, names)
    with open(path, "w") as f:
        json.dump(status, f)


def forked(sf_dir, out_dir, only, chunk):
    names = sorted(json.load(open(f"{out_dir}/oracle_sql.json")))
    if only:
        names = [n for n in names if n in only]
    # deal round-robin: the slowest oracles sort next to each other (the
    # graph_* recursive CTEs), and slicing would put them in one chunk
    n_chunks = max(1, math.ceil(len(names) / chunk))
    chunks = [names[i::n_chunks] for i in range(n_chunks)]
    # each chunk writes its own status file and only this process merges
    # them, so no two processes read-modify-write check_status.json; a
    # chunk that dies (an OOM) leaves no file and costs only its own gates
    paths = [f"{status_path(out_dir)}.chunk{i}" for i in range(n_chunks)]
    for path in paths:
        if os.path.exists(path):
            os.remove(path)
    ctx = multiprocessing.get_context("spawn")

    def run(i):
        p = ctx.Process(target=run_chunk, args=(
            sf_dir, out_dir, CHECK_TYPES, chunks[i], paths[i]))
        p.start()
        p.join()
        return p.exitcode

    with ThreadPoolExecutor(min(os.cpu_count() or 1, n_chunks)) as pool:
        codes = list(pool.map(run, range(n_chunks)))
    status, crashed = {}, []
    for i, path in enumerate(paths):
        if os.path.exists(path):
            with open(path) as f:
                status.update(json.load(f))
            os.remove(path)
        else:
            crashed.append(f"chunk {i} (exit code {codes[i]}, "
                           f"{len(chunks[i])} gates unchecked)")
    write_status(out_dir, status, merge=False)
    print_slowest(status)
    failures = sorted(n for n, v in status.items() if not v["ok"])
    if failures:
        print(f"\n{len(failures)} FAILED: {failures}")
    if crashed:
        print(f"\n{len(crashed)} chunk(s) crashed: {crashed}")
    if failures or crashed:
        sys.exit(1)
    print(f"\nall {len(names)} queries match (forked)")


if __name__ == "__main__":
    argv = [a for a in sys.argv[1:] if not a.startswith("--")]
    CHECK_TYPES = "--types" in sys.argv
    fork = 0
    if "--fork" in sys.argv:
        fork = int(sys.argv[sys.argv.index("--fork") + 1])
        argv.remove(str(fork))
    only = set(argv[2].split(",")) if len(argv) > 2 else None
    if fork > 0:
        forked(argv[0], argv[1], only, fork)
    else:
        main(argv[0], argv[1], only)
