#!/usr/bin/env python3
"""Dev-only layout/environment determinism harness (same status as check.py).

Usage: python3 tools/compare_runs.py <baselineVerifyDir> <otherVerifyDir> [...moreDirs]

Compares the SPARK parquet dumps of two or more graft.Verify output
dirs query-by-query with check.py's order-insensitive canonical hash
(columns sorted by name, rows sorted, floats rounded to 9 places).
A query whose hash depends on the physical layout (shuffle partition
count, core count) or on the JVM default timezone/locale would break
on any real cluster, where neither ever matches local[32] — this is
the proof harness for that axis.

It also compares the dirs' oracle_sql.json twin by twin, each dir's own
absolute path masked first (the learned-cell twins embed it): a twin
whose SQL differs is a FAIL and counts as divergent, so two dumps of a
refactor that must not change any twin prove it with one run.
"""
import sys, glob, json, os
import pandas as pd
from check import canon


def hashes(out_dir):
    result = {}
    for d in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, d)
        if not os.path.isdir(path):
            continue
        files = sorted(glob.glob(f"{path}/*.parquet"))
        if not files:
            result[d] = "NO_OUTPUT"
            continue
        df = pd.concat([pd.read_parquet(f) for f in files])
        result[d] = canon(df)
    return result


def oracles(out_dir):
    """Twin name -> oracle SQL with out_dir's path masked; None if absent."""
    path = os.path.join(out_dir, "oracle_sql.json")
    if not os.path.isfile(path):
        return None
    roots = sorted({os.path.abspath(out_dir), os.path.realpath(out_dir)},
                   key=len, reverse=True)
    masked = {}
    for q, sql in json.load(open(path)).items():
        for r in roots:
            sql = sql.replace(r, "<VERIFY_DIR>")
        masked[q] = sql
    return masked


def main():
    base_dir, rest = sys.argv[1], sys.argv[2:]
    base = hashes(base_dir)
    base_sql = oracles(base_dir)
    n_bad = 0
    for other_dir in rest:
        other = hashes(other_dir)
        missing = sorted(set(base) - set(other)) + sorted(set(other) - set(base))
        for q in missing:
            print(f"FAIL {q}: present in only one of {base_dir} / {other_dir}")
            n_bad += 1
        divergent = set()
        for q in sorted(set(base) & set(other)):
            if base[q] != other[q]:
                print(f"FAIL {q}: hash differs {base_dir} vs {other_dir}")
                divergent.add(q)
        other_sql = oracles(other_dir)
        sql_differs = set()
        if base_sql is not None and other_sql is not None:
            for q in sorted(set(base_sql) | set(other_sql)):
                if base_sql.get(q) != other_sql.get(q):
                    print(f"FAIL {q}: oracle SQL differs")
                    sql_differs.add(q)
        divergent |= sql_differs - set(missing)
        n_bad += len(divergent)
        common = set(base) & set(other)
        print(f"== {other_dir}: {len(common - divergent)} identical, "
              f"{len(divergent)} divergent, {len(missing)} missing, "
              f"{len(sql_differs)} oracle twins differ ==")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
