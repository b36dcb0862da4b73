#!/usr/bin/env python3
"""Local pre-check of the driver's correctness gate: run each oracle SQL in
DuckDB against the sf tables and compare (columns sorted by name, rows as a
sorted multiset, exact values) with the parquet the graft.Verify dump wrote.

Usage: python3 tools/check_oracle.py <sfdir> <outdir> [query ...]

Every query output dir must have an oracle: a dir with no oracle entry
fails, and the lines of graft.Verify's `dynamic_oracle_skipped.txt`
marker (trained oracles that could not be built) are printed first.
"""
import json, math, sys, os
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return ("null",)
    if isinstance(v, float):
        if math.isnan(v):
            return ("nan",)
        return ("f", repr(v))
    if isinstance(v, (list, tuple)):
        return ("l",) + tuple(canon(x) for x in v)
    return (type(v).__name__, str(v))


def rows_key(df):
    cols = sorted(df.columns)
    out = []
    for t in df[cols].itertuples(index=False, name=None):
        out.append(tuple(canon(v) for v in t))
    out.sort()
    return cols, out


def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    skipped = f"{outdir}/dynamic_oracle_skipped.txt"
    if os.path.exists(skipped):
        for line in open(skipped).read().splitlines():
            print(f"SKIPPED trained oracle {line}")
    dumped = {d for d in os.listdir(outdir) if os.path.isdir(f"{outdir}/{d}")}
    n_pass = n_fail = 0
    for name in sorted(set(oracle) | dumped):
        if only and name not in only:
            continue
        if name not in oracle:
            print(f"FAIL {name}: no oracle")
            n_fail += 1
            continue
        sql = oracle[name]
        pq = f"{outdir}/{name}"
        if not os.path.isdir(pq):
            print(f"FAIL {name}: no spark output dir")
            n_fail += 1
            continue
        try:
            odf = con.sql(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        mdf = con.sql(f"SELECT * FROM read_parquet('{pq}/*.parquet')").df()
        ocols, orows = rows_key(odf)
        mcols, mrows = rows_key(mdf)
        if ocols != mcols:
            print(f"FAIL {name}: columns differ\n  oracle: {ocols}\n  mine:   {mcols}")
            n_fail += 1
            continue
        if len(orows) != len(mrows):
            print(f"FAIL {name}: row count oracle={len(orows)} mine={len(mrows)}")
            n_fail += 1
            continue
        bad = [(a, b) for a, b in zip(orows, mrows) if a != b]
        if bad:
            print(f"FAIL {name}: {len(bad)}/{len(orows)} rows differ; first:")
            print(f"  oracle: {bad[0][0]}")
            print(f"  mine:   {bad[0][1]}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(orows)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
