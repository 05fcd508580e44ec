#!/usr/bin/env python3
"""Dev-only parity harness (mimics the driver's t2 gate; not library code).

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [query ...]

Loads each testdata table as a DuckDB view, runs every oracle SQL from
<verifyOutDir>/oracle_sql.json, and compares against the Spark parquet
dumps: schema (column names), row count, and an order-insensitive value
hash with columns sorted by name.
"""
import sys, os, json, glob, hashlib, tempfile
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)
    def cell(v):
        if isinstance(v, float):
            return repr(round(v, 9))
        if isinstance(v, (list, tuple)) or str(type(v)).endswith("ndarray'>"):
            return "[" + ",".join(cell(x) for x in v) + "]"
        return repr(v)
    rows = sorted("|".join(cell(v) for v in row) for row in df.itertuples(index=False, name=None))
    return hashlib.md5("\n".join(rows).encode()).hexdigest()

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    # Pin the oracle's resource budget (VERDICT r10 #1/#3): an unpinned
    # DuckDB spills to the cwd-relative .tmp and dies of ENOSPC on big
    # tiers (r10's q_pagerank FAIL), and unbounded memory co-tenants
    # badly. Defaults: a fresh temp dir and half of physical RAM;
    # CHECK_TMP / CHECK_MEM override them for tier runs.
    fresh = tempfile.TemporaryDirectory(prefix="graft_check_")  # removed at exit
    tmp = os.environ.get("CHECK_TMP", fresh.name)
    os.makedirs(tmp, exist_ok=True)
    half_ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2 // 2**30
    con.execute(f"PRAGMA temp_directory='{tmp}'")
    con.execute(f"PRAGMA memory_limit='{os.environ.get('CHECK_MEM', f'{max(half_ram_gb, 1)}GB')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        # spark-output check FIRST: when the engine declined a query by
        # design (q_prefix_join's loud budget abort) there is nothing to
        # compare, and running its oracle anyway burns hours in DuckDB
        # on the same superlinear join the engine refused
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            n_bad += 1
            continue
        try:
            want = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_bad += 1
            continue
        got = pd.concat([pd.read_parquet(f) for f in sorted(files)])
        if sorted(got.columns) != sorted(want.columns):
            print(f"FAIL {name}: cols spark={sorted(got.columns)} duck={sorted(want.columns)}")
            n_bad += 1
            continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows spark={len(got)} duck={len(want)}")
            n_bad += 1
            continue
        hg, hw = canon(got), canon(want)
        if hg != hw:
            print(f"FAIL {name}: hash mismatch ({len(got)} rows)")
            merged = got.merge(want, how="outer", indicator=True,
                               on=list(sorted(got.columns))) if got.columns.size else None
            try:
                diff = merged[merged._merge != "both"]
                print(diff.head(6).to_string())
            except Exception:
                print("  spark head:\n", got.head(3).to_string())
                print("  duck head:\n", want.head(3).to_string())
            n_bad += 1
        else:
            print(f"OK   {name} ({len(got)} rows)")
            n_ok += 1
    print(f"== {n_ok} ok, {n_bad} fail ==")
    sys.exit(1 if n_bad else 0)

if __name__ == "__main__":
    main()
