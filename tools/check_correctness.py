#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: for each query result
parquet dumped by graft.Verify, run the oracle SQL in DuckDB over the
same fixture tables and compare (columns sorted by name, rows sorted,
values exact; floats compared both exactly and with 1e-9 rel tolerance
so we can see HOW CLOSE a mismatch is).

Usage: check_correctness.py <sfDir> <verifyOutDir> [names]

`names` is the comma-separated entry filter that was passed to
graft.Verify: only those entries must have a result dump. Without it
every oracle key needs one.
"""
import json, math, sys, glob, os
import duckdb

sfdir, outdir = sys.argv[1], sys.argv[2]
only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")

oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(r[i] for i in order))
    # fully type-homogeneous sort key: NaN floats map to (is_nan=True,
    # 0.0) so a float column mixing NaN and numbers never compares
    # float-to-str (which would raise and crash the whole gate)
    def key(x):
        nan = isinstance(x, float) and math.isnan(x)
        return (x is None, str(type(x)), nan, 0.0 if nan else x)
    return sorted(cols), sorted(out, key=lambda t: tuple(key(x) for x in t))

def close(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b): return True
        return a == b or abs(a-b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b

fails = 0
# a query that THREW in Verify leaves no result dir — that must be a
# loud FAIL, not a silent absence
dumped = {os.path.basename(p) for p in glob.glob(os.path.join(outdir, "q*"))}
expected = set(oracle) if only is None else only
checked = expected | (dumped if only is None else set())
for qname in sorted(expected - dumped):
    print(f"FAIL {qname}: no result dump (query threw in Verify?)"); fails += 1
for qname in sorted(checked & dumped):
    name = os.path.join(outdir, qname)
    try:
        got = con.execute(f"SELECT * FROM read_parquet('{name}/*.parquet')").fetchall()
        gcols = [d[0] for d in con.description]
    except Exception as e:
        print(f"FAIL {qname}: cannot read result: {e}"); fails += 1; continue
    if qname not in oracle:
        print(f"SKIP {qname}: no oracle (rows={len(got)})"); continue
    try:
        exp = con.execute(oracle[qname]).fetchall()
        ecols = [d[0] for d in con.description]
    except Exception as e:
        print(f"FAIL {qname}: oracle SQL error: {e}"); fails += 1; continue
    gc, gr = canon(got, gcols)
    ec, er = canon(exp, ecols)
    if gc != ec:
        print(f"FAIL {qname}: columns {gc} != {ec}"); fails += 1; continue
    if len(gr) != len(er):
        print(f"FAIL {qname}: rows {len(gr)} != {len(er)}"); fails += 1; continue
    exact = gr == er
    approx = all(all(close(a, b) for a, b in zip(r1, r2))
                 for r1, r2 in zip(gr, er))
    if exact:
        print(f"PASS {qname} (exact, rows={len(gr)})")
    elif approx:
        print(f"WARN {qname}: approx-only match (hash would FAIL), rows={len(gr)}")
        for r1, r2 in zip(gr, er):
            if r1 != r2:
                print(f"   spark={r1}\n   duck ={r2}"); break
        fails += 1
    else:
        print(f"FAIL {qname}: value mismatch, rows={len(gr)}")
        shown = 0
        for r1, r2 in zip(gr, er):
            if r1 != r2 and shown < 3:
                print(f"   spark={r1}\n   duck ={r2}"); shown += 1
        fails += 1
verdict = 'ALL PASS' if fails == 0 else f'{fails} FAILURES'
print(f"\n{verdict} ({len(checked)} entries checked)")
sys.exit(1 if fails else 0)
