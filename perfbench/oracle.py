"""Output checks of the benchmark, run after the timed passes.

Query workloads: DuckDB runs each query's oracle SQL (written by the
driver from `SparkEntry.oracleSql`) over the same parquet tables, and
the results of the warm-up pass and of the verify pass (run after the
timed passes, with the caches they used) must match it in column names,
row count and the order-insensitive canonical hash of `tools/check.py`.

fraud_daily: every pass must publish exactly the planted mart rows per
(rule, day), and leave the planted SCD2 history row count and current
terminal view.
"""
import collections
import glob
import json
import os
import sys

import pandas as pd
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from check import TABLES, canon  # noqa: E402  -- the repo's canonical result hash


def check_queries(data_dir, check_dir, names, tags, tmp_dir, corrupt=False):
    """Checks the results each pass in `tags` wrote under
    `check_dir/<tag>/<query>` against one DuckDB run of each oracle.
    Returns ({(tag, query): error or None}, {query: rows of the last tag})."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"PRAGMA temp_directory='{tmp_dir}'")
    con.execute("PRAGMA memory_limit='2GB'")
    con.execute("SET max_temp_directory_size='1GB'")
    con.execute("PRAGMA threads=4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    with open(f"{check_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    errors, rows = {}, {}
    for i, name in enumerate(sorted(names)):
        try:
            want = con.execute(oracle[name]).df()
        except Exception as e:  # noqa: BLE001 -- any oracle failure is a failed check
            errors.update({(tag, name): f"duckdb error: {e}"[:300] for tag in tags})
            continue
        expected = "0" * 32 if corrupt and i == 0 else canon(want)
        for tag in tags:
            files = sorted(glob.glob(f"{check_dir}/{tag}/{name}/*.parquet"))
            if not files:
                errors[(tag, name)] = "no spark output"
                continue
            got = pd.concat([pd.read_parquet(f) for f in files])
            rows[name] = len(got)
            if sorted(got.columns) != sorted(want.columns):
                err = f"columns {sorted(got.columns)} != {sorted(want.columns)}"
            elif len(got) != len(want):
                err = f"rows {len(got)} != {len(want)}"
            else:
                err = None if canon(got) == expected else "hash mismatch"
            errors[(tag, name)] = err
    con.close()
    return errors, rows


def check_fraud_pass(expected, check_dir, history_rows, corrupt=False):
    """Returns ({batch_date: error}, {rule: mart rows}) for one pass."""
    want = collections.Counter(tuple(r) for r in expected["mart"])
    if corrupt:
        want[tuple(expected["mart"][0])] -= 1
    t = pq.read_table(f"{check_dir}/mart").to_pylist()
    got = collections.Counter((r["rule"], str(r["batch_date"])[:10],
                               int(r["client_key"]), int(r["event_dt_us"])) for r in t)
    errors = {}
    for key in (got - want) + (want - got):
        errors.setdefault(key[1], f"mart differs from the planted set ({key[0]})")
    last = expected["days"][-1]
    if history_rows != last["history_rows"]:
        errors.setdefault(last["date"], f"history rows {history_rows} != {last['history_rows']}")
    current = sorted([r["terminal_id"], r["terminal_type"], r["terminal_city"],
                      r["terminal_address"]]
                     for r in pq.read_table(f"{check_dir}/current").to_pylist())
    if current != expected["current"]:
        errors.setdefault(last["date"], "current terminal view differs")
    by_rule = collections.Counter(k[0] for k in got.elements())
    return errors, dict(by_rule)
