#!/usr/bin/env python3
"""Structural closure check for the determinism sweeps (VERDICT r8 #6).

Usage: python3 tools/sweep_check.py <verifyDir> [...moreVerifyDirs]

The layout/TZ determinism sweeps only prove what they cover; a query
added AFTER a sweep ran would ship unproven on those axes without
anyone noticing. This check makes that impossible to miss at round
close: it extracts the query list from SparkEntry.scala AT HEAD (the
`QueryDef("name"` entries of `SparkEntry.registry` — the same set
graft.Verify dumps) and FAILS unless every query has a non-empty
parquet dump in EVERY given sweep dir. Run it on each sweep dir after compare_runs.py;
rc != 0 means the sweep is stale and must be re-run at HEAD.

HERMETICITY (VERDICT r9 #2): each dir must also carry a HEAD_SHA stamp
file (written by graft.Verify: sha captured before AND after the
dump, stamped only if equal) matching the CURRENT git HEAD, and every
query's dump mtime must not predate the last commit touching src/main
— the round-9 failure mode was a tier dir mixing dumps from three
different HEADs, producing a spurious FAIL the judge had to re-dump to
clear. A dir with no stamp fails loudly.
"""
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ENTRY = os.path.join(HERE, "..", "src", "main", "scala", "graft", "SparkEntry.scala")


def head_queries():
    src = open(ENTRY, encoding="utf-8").read()
    names = re.findall(r'QueryDef\("([A-Za-z0-9_]+)"', src)
    if len(names) < 100:
        sys.exit(f"sweep_check: only {len(names)} queries parsed from "
                 f"SparkEntry.scala — extraction regex is stale, fix it")
    return sorted(set(names))


def git(*args):
    return subprocess.run(["git", "-C", os.path.join(HERE, "..")] + list(args),
                          capture_output=True, text=True).stdout.strip()


def tally(argv):
    """--tally <dumpDir> <allowCsv|-> <check_log...>  (VERDICT r10 #3)

    Merge the OK/FAIL lines of every given check.py log (slices,
    retries) and emit the FULL partition of the dump dir's oracle
    queries into OK / FAIL / missing, machine-counted. Logs are
    processed in mtime order and the NEWEST verdict per query wins
    (ADVICE r11: the old "an OK anywhere wins" merge let a stale OK
    from an earlier attempt permanently mask a genuine FAIL from a
    later re-run of the same query). A retry log is newer than the
    slice log it repairs, so retried-to-OK still lands OK.
    rc != 0 unless every FAIL and every missing query is named in the
    allowlist — "189+" style undercounts and silently-undrained tails
    both become loud here. The allowlist is the SCALE-notes contract:
    anything on it must be a DISCLOSED, triaged exception.
    """
    import json
    if len(argv) < 3:
        sys.exit(tally.__doc__)
    dump_dir, allow_csv, logs = argv[0], argv[1], argv[2:]
    oracle = json.load(open(os.path.join(dump_dir, "oracle_sql.json")))
    allowed = set() if allow_csv == "-" else set(allow_csv.split(","))
    status = {}
    line_re = re.compile(r"^(OK|FAIL)\s+(\S+?):?\s")
    for log in sorted(logs, key=os.path.getmtime):
        for line in open(log, encoding="utf-8", errors="replace"):
            m = line_re.match(line)
            if not m:
                continue
            verdict, q = m.group(1), m.group(2).rstrip(":")
            if q in oracle:
                status[q] = verdict  # newest log (and line) wins
    ok = sorted(q for q, v in status.items() if v == "OK")
    fail = sorted(q for q, v in status.items() if v == "FAIL")
    missing = sorted(q for q in oracle if q not in status)
    print(f"== tally {dump_dir}: {len(ok)} OK, {len(fail)} FAIL, "
          f"{len(missing)} missing of {len(oracle)} ==")
    bad = 0
    for q in fail:
        tag = "allowed" if q in allowed else "UNTRIAGED"
        print(f"FAIL {q} [{tag}]")
        bad += 0 if q in allowed else 1
    for q in missing:
        tag = "allowed" if q in allowed else "UNTRIAGED"
        print(f"MISSING {q} [{tag}]")
        bad += 0 if q in allowed else 1
    sys.exit(1 if bad else 0)


def bench_gate(argv):
    """--bench <allowCsv|-> <bench.json...>: rc != 0 on any bench error
    not in the allowlist (the designed q_prefix_join budget abort is
    the one standing exception at the 100x tier)."""
    import json
    allowed = set() if argv[0] == "-" else set(argv[0].split(","))
    bad = 0
    for p in argv[1:]:
        d = json.load(open(p))
        errs = d.get("errors", {})
        for q, msg in errs.items():
            tag = "allowed" if q in allowed else "UNTRIAGED"
            print(f"{'WARN' if q in allowed else 'FAIL'} {p}: bench error "
                  f"{q} [{tag}]: {msg[:120]}")
            bad += 0 if q in allowed else 1
        if not errs:
            print(f"== {p}: 0 bench errors, total {d.get('value')}s ==")
    sys.exit(1 if bad else 0)


def disk_gate(argv):
    """--disk-gate <path> <minGB>: rc != 0 if free space under minGB.

    Both r10 failure classes (oracle spill ENOSPC, co-tenant bench
    disk-full) start by launching a tier run into insufficient
    headroom; the close script calls this BEFORE each tier phase."""
    path, min_gb = argv[0], float(argv[1])
    st = os.statvfs(path)
    free_gb = st.f_bavail * st.f_frsize / 1e9
    print(f"== disk {path}: {free_gb:.1f} GB free (need {min_gb}) ==")
    sys.exit(0 if free_gb >= min_gb else 1)


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    if sys.argv[1] == "--tally":
        return tally(sys.argv[2:])
    if sys.argv[1] == "--bench":
        return bench_gate(sys.argv[2:])
    if sys.argv[1] == "--disk-gate":
        return disk_gate(sys.argv[2:])
    queries = head_queries()
    head = git("rev-parse", "HEAD")
    src_commit_ts = int(git("log", "-1", "--format=%ct", "--", "src/main") or 0)
    bad = 0
    for sweep_dir in sys.argv[1:]:
        missing = [q for q in queries
                   if not any(f.endswith(".parquet")
                              for f in (os.listdir(os.path.join(sweep_dir, q))
                                        if os.path.isdir(os.path.join(sweep_dir, q))
                                        else []))]
        for q in missing:
            print(f"FAIL {sweep_dir}: no dump for {q}")
        bad += len(missing)
        # hermeticity: the stamp must exist and match the current HEAD
        stamp_path = os.path.join(sweep_dir, "HEAD_SHA")
        if not os.path.isfile(stamp_path):
            print(f"FAIL {sweep_dir}: no HEAD_SHA stamp — dump provenance unknown")
            bad += 1
        else:
            stamp = open(stamp_path).read().strip()
            if stamp != head:
                print(f"FAIL {sweep_dir}: stamped {stamp[:12]} != HEAD {head[:12]}")
                bad += 1
        # ...and no dump may predate the last commit touching src/main
        stale = [q for q in queries if q not in missing
                 and os.path.getmtime(os.path.join(sweep_dir, q)) < src_commit_ts]
        for q in stale:
            print(f"FAIL {sweep_dir}: dump for {q} predates last src/main commit")
        bad += len(stale)
        print(f"== {sweep_dir}: {len(queries) - len(missing)}/{len(queries)} "
              f"HEAD queries present, {len(stale)} stale ==")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
