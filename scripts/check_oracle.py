#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness compare.

Usage: python3 scripts/check_oracle.py <sfDir> <verifyOutDir>
Checks exactly the queries the last `graft.Verify` run into verifyOutDir
selected (its verify_stamp.json). A selected query whose output is absent
or older than the stamp (it threw in Verify) is MISSING. For each fresh
output with an oracle_sql.json entry: register sfDir parquet as views, run
the oracle SQL, compare to the Spark parquet output (column names and
their DuckDB types, then rows sorted with values stringified) and print
MATCH/MISMATCH per query. A column whose oracle type differs from the type
DuckDB reads from the Spark parquet (say HUGEINT against BIGINT) is a
TYPE-MISMATCH even when the values print alike: a hash of the result
sees the type. Exits non-zero on any MISMATCH or MISSING.
"""
import sys, json, glob, os
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = f"{v:.9g}"
            vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return sorted(c for c in cols), out

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    # written by Verify before its first query: an output older than it
    # is a previous run's, left behind by a query that threw in this one
    stamp = os.path.join(out_dir, "verify_stamp.json")
    if not os.path.isfile(stamp):
        print(f"no verify_stamp.json in {out_dir}: run graft.Verify into it")
        sys.exit(2)
    with open(stamp) as f:
        selected = json.load(f)["selected"]
    started = os.path.getmtime(stamp)
    n_match = n_mismatch = n_missing = 0
    for name in sorted(selected):
        qdir = os.path.join(out_dir, name)
        files = glob.glob(os.path.join(qdir, "*.parquet"))
        if not files or min(map(os.path.getmtime, files)) < started:
            print(f"{name:24s} MISSING (no output written by the last Verify run)")
            n_missing += 1
            continue
        if name not in oracles:
            cnt = con.execute(
                f"SELECT count(*) FROM read_parquet({files!r})").fetchone()[0]
            print(f"{name:24s} rows-only rows={cnt}")
            continue
        spark_rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
        s_cols = spark_rel.columns
        s_types = dict(zip(s_cols, map(str, spark_rel.types)))
        s_rows = spark_rel.fetchall()
        try:
            duck_rel = con.sql(oracles[name])
            d_cols = duck_rel.columns
            d_types = dict(zip(d_cols, map(str, duck_rel.types)))
            d_rows = duck_rel.fetchall()
        except Exception as ex:
            print(f"{name:24s} ORACLE-ERROR {ex}")
            n_mismatch += 1
            continue
        sc, sr = norm(s_rows, s_cols)
        dc, dr = norm(d_rows, d_cols)
        if sc != dc:
            print(f"{name:24s} SCHEMA-MISMATCH spark={sc} duck={dc}")
            n_mismatch += 1
        elif s_types != d_types:
            diff = {c: (s_types[c], d_types[c])
                    for c in sc if s_types[c] != d_types[c]}
            print(f"{name:24s} TYPE-MISMATCH (spark, duck): {diff}")
            n_mismatch += 1
        elif sr != dr:
            diff = [(a, b) for a, b in zip(sr, dr) if a != b][:3]
            extra = abs(len(sr) - len(dr))
            print(f"{name:24s} VALUE-MISMATCH rows {len(sr)} vs {len(dr)}, "
                  f"first diffs: {diff} (len diff {extra})")
            n_mismatch += 1
        else:
            print(f"{name:24s} MATCH rows={len(sr)}")
            n_match += 1
    print(f"\n{n_match} match, {n_mismatch} mismatch, {n_missing} missing")
    sys.exit(1 if n_mismatch or n_missing else 0)

if __name__ == "__main__":
    main()
