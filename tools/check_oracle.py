#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run each oracle SQL in
DuckDB against the sf parquet tables and compare row/schema/values with the
Spark parquet dumped by graft.Verify. Dev-loop tool only (duckdb is
driver-side)."""
import json, sys, glob
import duckdb

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
# `SF OUT --against OUT2` also compares every Verify output table, the
# rows-only ones included, row for row with the same table of a second
# Verify dump, by EXCEPT ALL in both directions, and the two dumps'
# oracle_sql.json query by query; any difference fails.
against = sys.argv[4] if len(sys.argv) > 4 and sys.argv[3] == "--against" else None

con = duckdb.connect()
for p in glob.glob(f"{sf}/*.parquet"):
    name = p.split("/")[-1].replace(".parquet", "")
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{out}/oracle_sql.json"))
fails = 0
for name, sql in sorted(oracle.items()):
    try:
        got = con.execute(
            f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')").fetchdf()
        want = con.execute(sql).fetchdf()
        g = got.reindex(sorted(got.columns), axis=1)
        w = want.reindex(sorted(want.columns), axis=1)
        if list(g.columns) != list(w.columns):
            print(f"FAIL {name}: columns {list(g.columns)} vs {list(w.columns)}")
            fails += 1
            continue
        gs = g.sort_values(by=list(g.columns)).reset_index(drop=True)
        ws = w.sort_values(by=list(w.columns)).reset_index(drop=True)
        if len(gs) != len(ws):
            print(f"FAIL {name}: rows {len(gs)} vs {len(ws)}")
            fails += 1
            continue
        # value compare (string render, like a hash would see)
        gv = gs.astype(str).values.tolist()
        wv = ws.astype(str).values.tolist()
        if gv != wv:
            diffs = [(i, a, b) for i, (a, b) in enumerate(zip(gv, wv)) if a != b]
            print(f"FAIL {name}: {len(diffs)} differing rows; first: {diffs[0]}")
            # dtype hint
            print("  spark dtypes:", dict(gs.dtypes.astype(str)))
            print("  duck  dtypes:", dict(ws.dtypes.astype(str)))
            fails += 1
        else:
            print(f"PASS {name} ({len(gs)} rows)")
    except Exception as e:
        print(f"ERROR {name}: {str(e)[:300]}")
        fails += 1

rows_only = [d.split("/")[-1] for d in glob.glob(f"{out}/*") if
             not d.endswith(".json") and d.split("/")[-1] not in oracle]
for name in sorted(rows_only):
    n = con.execute(f"SELECT count(*) FROM read_parquet('{out}/{name}/*.parquet')").fetchone()[0]
    print(f"ROWS {name}: {n}")

if against:
    def tables_in(d):
        return sorted(t.split("/")[-1] for t in glob.glob(f"{d}/*") if not t.endswith(".json"))
    tables = tables_in(out)
    for name in sorted(set(tables_in(against)) - set(tables)):
        print(f"MISSING {name}: only in {against}")
        fails += 1
    same = 0
    for name in tables:
        a = f"read_parquet('{out}/{name}/*.parquet')"
        b = f"read_parquet('{against}/{name}/*.parquet')"
        try:
            extra = con.execute(
                f"SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b})"
            ).fetchone()[0]
            missing = con.execute(
                f"SELECT count(*) FROM (SELECT * FROM {b} EXCEPT ALL SELECT * FROM {a})"
            ).fetchone()[0]
        except Exception as e:
            print(f"ERROR {name} against: {str(e)[:300]}")
            fails += 1
            continue
        if extra or missing:
            print(f"DIFF {name}: {extra} rows only here, {missing} only in {against}")
            fails += 1
        else:
            same += 1
    print(f"AGAINST {against}: {same}/{len(tables)} tables identical")
    # the two dumps' oracle SQL, query by query: any added, dropped or
    # edited oracle fails the run
    theirs = json.load(open(f"{against}/oracle_sql.json"))
    names = sorted(set(oracle) | set(theirs))
    differ = [n for n in names if oracle.get(n) != theirs.get(n)]
    print(f"ORACLE_SQL {len(names) - len(differ)}/{len(names)} identical")
    for name in differ:
        print(f"ORACLE_SQL DIFF {name}")
    fails += len(differ)
sys.exit(1 if fails else 0)
