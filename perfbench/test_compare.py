"""Tests of the compare command on synthetic result sets.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import tempfile
import unittest

import compare

SEEDS = range(1, 11)
SPEC = {"end_to_end": [
    {"name": "pass_s", "unit": "s", "better": "lower", "bound": 0.1},
    {"name": "heap_mb", "unit": "MB", "better": "lower", "bound": 0.2}]}


def runs(center, jitter):
    """Ten seeded values around `center`, spread by `jitter` (a share)."""
    return {s: center * (1 + jitter * ((s * 7) % 10 - 4.5) / 4.5) for s in SEEDS}


class VerdictTest(unittest.TestCase):
    def test_clear_gain_is_improved(self):
        r = compare.verdict(runs(10.0, 0.02), runs(8.0, 0.02), "lower", 0.1)
        self.assertEqual(r["verdict"], "improved")
        self.assertEqual(r["win_frac"], 1.0)
        self.assertEqual(r["pairs"], 10)

    def test_same_code_is_no_worse(self):
        r = compare.verdict(runs(10.0, 0.02), runs(10.0, 0.02), "lower", 0.1)
        self.assertEqual(r["verdict"], "no worse")
        self.assertEqual(r["win_frac"], 0.0)  # every pair ties

    def test_regression_beyond_the_bound_is_worse(self):
        r = compare.verdict(runs(10.0, 0.02), runs(12.0, 0.02), "lower", 0.1)
        self.assertEqual(r["verdict"], "worse")

    def test_regression_within_the_bound_is_no_worse(self):
        r = compare.verdict(runs(10.0, 0.02), runs(10.5, 0.02), "lower", 0.1)
        self.assertEqual(r["verdict"], "no worse")

    def test_spread_wider_than_the_bound_is_unresolved(self):
        r = compare.verdict(runs(10.0, 0.3), runs(10.2, 0.3), "lower", 0.1)
        self.assertGreater(r["spread"], 0.1)
        self.assertEqual(r["verdict"], "unresolved")

    def test_wide_spread_but_every_change_run_better_is_resolved(self):
        base = {s: 20.0 + s for s in SEEDS}
        change = {s: 10.0 + s / 10 for s in SEEDS}
        r = compare.verdict(base, change, "lower", 0.1)
        self.assertEqual(r["verdict"], "improved")

    def test_gain_inside_base_spread_is_not_improved(self):
        # wins every pair, but by less than the base's own quartile spread
        base = runs(10.0, 0.05)
        change = {s: v - 0.05 for s, v in base.items()}
        r = compare.verdict(base, change, "lower", 0.2)
        self.assertEqual(r["win_frac"], 1.0)
        self.assertEqual(r["verdict"], "no worse")

    def test_higher_is_better_direction(self):
        r = compare.verdict(runs(100.0, 0.01), runs(130.0, 0.01), "higher", 0.1)
        self.assertEqual(r["verdict"], "improved")
        r = compare.verdict(runs(100.0, 0.01), runs(70.0, 0.01), "higher", 0.1)
        self.assertEqual(r["verdict"], "worse")

    def test_unpaired_seeds_count_in_medians_not_in_wins(self):
        base = {1: 10.0, 2: 10.0, 3: 10.0}
        change = {2: 9.0, 3: 9.0, 4: 9.0}
        r = compare.verdict(base, change, "lower", 0.1)
        self.assertEqual(r["pairs"], 2)
        self.assertEqual(r["change_median"], 9.0)


class CompareSetsTest(unittest.TestCase):
    def write_set(self, root, name, workloads, failed=None):
        """`failed`: {workload: failed operations of each of its runs}."""
        d = os.path.join(root, name)
        os.makedirs(d)
        for wl, values in workloads.items():
            for seed, v in values.items():
                with open(os.path.join(d, f"{wl}-seed{seed}-trace0.json"), "w") as f:
                    json.dump({"workload": wl, "seed": seed,
                               "failed": (failed or {}).get(wl, 0),
                               "end_to_end": {"pass_s": v, "heap_mb": 100.0}}, f)
        return d

    def test_one_row_per_workload_and_metric(self):
        with tempfile.TemporaryDirectory() as root:
            a = self.write_set(root, "a", {"fraud_daily": runs(10.0, 0.02),
                                           "query_tail": runs(5.0, 0.02)})
            b = self.write_set(root, "b", {"fraud_daily": runs(8.0, 0.02),
                                           "query_tail": runs(5.0, 0.02)})
            rows = compare.compare(compare.load(a), compare.load(b), SPEC)
        got = {(wl, m): r["verdict"] for wl, m, _, r in rows}
        self.assertEqual(got, {
            ("fraud_daily", "pass_s"): "improved", ("fraud_daily", "heap_mb"): "no worse",
            ("query_tail", "pass_s"): "no worse", ("query_tail", "heap_mb"): "no worse"})

    def test_more_failures_than_the_base_is_failed_even_when_faster(self):
        with tempfile.TemporaryDirectory() as root:
            a = self.write_set(root, "a", {"fraud_daily": runs(10.0, 0.02),
                                           "query_tail": runs(5.0, 0.02)})
            b = self.write_set(root, "b", {"fraud_daily": runs(8.0, 0.02),
                                           "query_tail": runs(4.0, 0.02)},
                               failed={"fraud_daily": 1})
            rows = compare.compare(compare.load(a), compare.load(b), SPEC)
        got = {(wl, m): (r["verdict"], r["base_failed"], r["change_failed"])
               for wl, m, _, r in rows}
        self.assertEqual(got, {
            ("fraud_daily", "pass_s"): ("failed", 0, 10),
            ("fraud_daily", "heap_mb"): ("failed", 0, 10),
            ("query_tail", "pass_s"): ("improved", 0, 0),
            ("query_tail", "heap_mb"): ("no worse", 0, 0)})

    def test_failures_no_more_than_the_base_keep_the_verdict(self):
        with tempfile.TemporaryDirectory() as root:
            a = self.write_set(root, "a", {"fraud_daily": runs(10.0, 0.02)},
                               failed={"fraud_daily": 2})
            b = self.write_set(root, "b", {"fraud_daily": runs(8.0, 0.02)},
                               failed={"fraud_daily": 2})
            rows = compare.compare(compare.load(a), compare.load(b), SPEC)
        self.assertEqual(rows[0][3]["verdict"], "improved")


if __name__ == "__main__":
    unittest.main()
