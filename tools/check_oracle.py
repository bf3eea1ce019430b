#!/usr/bin/env python3
"""Dev-only local replica of the driver's correctness gate (NOT part of
the shipped library): runs each oracle SQL from Verify's output dir in
DuckDB against the same parquet tables and compares with the Spark
result parquet (columns sorted by name, rows sorted, exact values).

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>
Exits 1 when any key fails. Verify leaves an empty output dir for a
key whose query threw, so that key prints FAIL here too.
"""
import sys, json, glob, math
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return str(v)


def frame(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(norm(r[i]) for i in idx) for r in rows)
    return [cols[i] for i in idx], out


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    names = sorted(p.split("/")[-1]
                   for p in glob.glob(f"{out_dir}/*") if "." not in p.split("/")[-1])
    n_pass = 0
    for name in names:
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL  {name}: no spark output")
            continue
        r = con.execute(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
        scols = [d[0] for d in r.description]
        srows = r.fetchall()
        if name not in oracle:
            status = "ROWS " if len(srows) > 0 else "FAIL "
            print(f"{status} {name}: rows-only, {len(srows)} rows")
            n_pass += len(srows) > 0
            continue
        try:
            q = con.execute(oracle[name])
            ocols = [d[0] for d in q.description]
            orows = q.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}")
            continue
        sc, sr = frame(srows, scols)
        oc, orr = frame(orows, ocols)
        if sc != oc:
            print(f"FAIL  {name}: schema {sc} vs {oc}")
        elif len(sr) != len(orr):
            print(f"FAIL  {name}: rows {len(sr)} vs {len(orr)}")
        elif sr != orr:
            bad = next(i for i in range(len(sr)) if sr[i] != orr[i])
            print(f"FAIL  {name}: values differ at sorted row {bad}:")
            print(f"   spark:  {sr[bad]}")
            print(f"   oracle: {orr[bad]}")
        else:
            print(f"PASS  {name}: {len(sr)} rows")
            n_pass += 1
    print(f"== {n_pass}/{len(names)} pass")
    # every key prints one PASS/ROWS or one FAIL line
    return 0 if n_pass == len(names) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
