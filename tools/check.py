#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB oracle compare.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Loads each <verifyOutDir>/<name> parquet (Spark output), runs the
matching oracle_sql.json query in DuckDB over <sfDir>'s tables, sorts
columns by name and rows by all columns, and compares cell values
exactly (floats bit-exact; tiny report on mismatch).
"""
import json, sys, glob, os, math
import duckdb
import pyarrow.parquet as pq

TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

def norm(v):
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        return v
    if isinstance(v, bytes): return v.hex()
    if isinstance(v, list): return tuple(norm(x) for x in v)
    if isinstance(v, dict): return tuple(sorted((k, norm(x)) for k,x in v.items()))
    return v

def table_rows(tbl):
    cols = sorted(tbl.column_names)
    data = [tbl.column(c).to_pylist() for c in cols]
    rows = [tuple(norm(col[i]) for col in data) for i in range(tbl.num_rows)]
    return cols, sorted(rows, key=lambda r: tuple(str(x) for x in r))

def main(sf_dir, out_dir):
    import time
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    # Twin entries may deliberately share oracle SQL (two plans, one
    # semantics — e.g. q_t_jaccard_prefix / q_t_jaccard_pairs), so
    # byte-identical SQL is executed once and the arrow result reused,
    # with zero semantic surface: same engine, same SQL, same result.
    # cache maps sql -> (elapsed_of_the_one_real_execution, arrow result);
    # cache hits record that SAME elapsed (marked shared below) so the
    # "slowest" report doesn't attribute a twin's full replay cost to
    # whichever name sorts first and ~0s to the others
    sql_cache = {}
    timings = {}
    shared = set()
    n_pass = n_fail = n_noracle = 0
    for name in names:
        files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
        try:
            got = pq.read_table(files) if files else None
        except Exception as e:
            print(f"FAIL {name}: unreadable spark output: {e}")
            n_fail += 1
            continue
        if name not in oracle:
            print(f"  [rows-only] {name}: rows={got.num_rows if got is not None else 'MISSING'}")
            n_noracle += 1
            continue
        if got is None:
            # Missing/empty output for an oracle-bearing query is a FAIL
            # for that query, not a crash of the whole compare.
            print(f"FAIL {name}: no parquet output written")
            n_fail += 1
            continue
        try:
            if oracle[name] in sql_cache:
                elapsed, exp = sql_cache[oracle[name]]
                shared.add(name)
            else:
                t0 = time.time()
                exp = con.execute(oracle[name]).arrow()
                elapsed = time.time() - t0
                sql_cache[oracle[name]] = (elapsed, exp)
            timings[name] = elapsed
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        gc, gr = table_rows(got)
        ec, er = table_rows(exp)
        gtypes = {f.name: str(f.type) for f in got.schema}
        etypes = {f.name: str(f.type) for f in exp.schema}
        tdiff = {c: (gtypes[c], etypes[c]) for c in gtypes
                 if c in etypes and gtypes[c] != etypes[c]}
        if tdiff:
            print(f"WARN {name}: dtype mismatch {tdiff}")
        if gc != ec:
            print(f"FAIL {name}: columns differ spark={gc} duck={ec}")
            n_fail += 1
        elif gr != er:
            n_fail += 1
            print(f"FAIL {name}: rows differ (spark {len(gr)} vs duck {len(er)})")
            for i, (a, b) in enumerate(zip(gr, er)):
                if a != b:
                    print(f"   first diff row {i}:\n    spark={a}\n    duck ={b}")
                    break
        else:
            print(f"PASS {name} ({len(gr)} rows)")
            n_pass += 1
    # Verify logs a query that throws and writes no directory for it:
    # an oracle entry without output is a failure, never a skip.
    for name in sorted(set(oracle) - set(names)):
        print(f"FAIL {name}: no spark output")
        n_fail += 1
    slow = sorted(timings.items(), key=lambda kv: -kv[1])[:8]
    # wall cost counts each distinct SQL once (shared twins execute once)
    wall = sum(e for e, _ in sql_cache.values())
    print(f"\noracle replay {wall:.1f}s; slowest: "
          + ", ".join(f"{n}={s:.1f}s" + (" (shared)" if n in shared else "")
                      for n, s in slow))
    print(f"{n_pass} pass, {n_fail} fail, {n_noracle} rows-only")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
