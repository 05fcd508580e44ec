#!/usr/bin/env python3
"""Compare two result sets of the benchmark, metric by metric.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR

A result set is a directory of the files `run.py --results DIR` writes
(`<workload>-seed<n>-trace0.json`). Runs are paired by workload and
seed. For every workload and end-to-end metric of BENCHMARK.json it
prints each side's median and quartiles, the fraction of pairs the
change wins (ties count for neither side), and a verdict:

- improved: the change wins at least nine tenths of the pairs and its
  median beats the base median by more than the base's own quartile
  spread;
- unresolved: either side's quartile spread, as a share of its median,
  is wider than the metric's bound, and not every change run beats every
  base run;
- worse: the change's median is worse than the base's by more than the
  bound;
- no worse: otherwise.

A gain does not count when the change fails more operations than the
base: if the change's runs of a workload hold more failed operations
than the base's, every row of that workload reads "failed". Each row
prints both sides' failure counts.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0]
    q = statistics.quantiles(values, n=4)
    return q[0], q[2]


def verdict(base, change, better, bound):
    """`base`/`change`: {seed: value}. Returns the row as a dict."""
    a, b = list(base.values()), list(change.values())
    ma, mb = statistics.median(a), statistics.median(b)
    (a1, a3), (b1, b3) = quartiles(a), quartiles(b)
    sign = 1 if better == "higher" else -1  # > 0 means the change is better

    def gain(x, y):
        return sign * (y - x)
    pairs = [(base[s], change[s]) for s in base if s in change]
    wins = sum(gain(x, y) > 0 for x, y in pairs)
    win_frac = wins / len(pairs) if pairs else 0.0
    spread = max((a3 - a1) / abs(ma) if ma else 0.0, (b3 - b1) / abs(mb) if mb else 0.0)
    all_better = min(sign * y for y in b) > max(sign * x for x in a)
    if win_frac >= 0.9 and gain(ma, mb) > a3 - a1:
        v = "improved"
    elif spread > bound and not all_better:
        v = "unresolved"
    elif -gain(ma, mb) > bound * abs(ma):
        v = "worse"
    else:
        v = "no worse"
    return {"base_median": ma, "base_q1": a1, "base_q3": a3,
            "change_median": mb, "change_q1": b1, "change_q3": b3,
            "pairs": len(pairs), "win_frac": win_frac, "spread": spread, "verdict": v}


def load(directory):
    """{workload: {seed: record}} of the untraced runs in `directory`."""
    out = {}
    for path in sorted(glob.glob(os.path.join(directory, "*-trace0.json"))):
        with open(path) as f:
            r = json.load(f)
        out.setdefault(r["workload"], {})[r["seed"]] = r
    return out


def compare(base, change, spec):
    """Rows (workload, metric, unit, row dict) for every workload both
    sets hold and every end-to-end metric of `spec` (BENCHMARK.json)."""
    rows = []
    for wl in sorted(set(base) & set(change)):
        fa = sum(r["failed"] for r in base[wl].values())
        fb = sum(r["failed"] for r in change[wl].values())
        for m in spec["end_to_end"]:
            a = {s: r["end_to_end"][m["name"]] for s, r in base[wl].items()}
            b = {s: r["end_to_end"][m["name"]] for s, r in change[wl].items()}
            row = verdict(a, b, m["better"], m["bound"])
            row.update(base_failed=fa, change_failed=fb)
            if fb > fa:
                row["verdict"] = "failed"
            rows.append((wl, m["name"], m["unit"], row))
    return rows


def main(argv):
    if len(argv) != 3:
        raise SystemExit(__doc__.split("\n\n")[1])
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    rows = compare(load(argv[1]), load(argv[2]), spec)
    print(f"{'workload':<12} {'metric':<10} {'unit':<5} {'base median [q1, q3]':>32} "
          f"{'change median [q1, q3]':>32} {'pairs':>5} {'wins':>5} {'spread':>6} "
          f"{'failed':>9}  verdict")
    for wl, name, unit, r in rows:
        print(f"{wl:<12} {name:<10} {unit:<5} "
              f"{r['base_median']:>10.4g} [{r['base_q1']:>8.4g}, {r['base_q3']:>8.4g}] "
              f"{r['change_median']:>10.4g} [{r['change_q1']:>8.4g}, {r['change_q3']:>8.4g}] "
              f"{r['pairs']:>5} {r['win_frac']:>5.2f} {r['spread']:>6.3f} "
              f"{str(r['base_failed']) + '/' + str(r['change_failed']):>9}  {r['verdict']}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
