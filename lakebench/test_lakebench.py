"""Benchmark-local tests.

    python3 -m unittest lakebench/test_lakebench.py

The compare tests are pure Python. The seed tests build the benchmark
and run the JVM in digest mode (about half a minute each).
"""

import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import compare  # noqa: E402


class VerdictTest(unittest.TestCase):
    def paired(self, base, change):
        return list(zip(base, change))

    def test_clear_gain_is_improved(self):
        base = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
        change = [x * 0.8 for x in base]
        v, win = compare.verdict(base, change, "lower", 0.1, self.paired(base, change))
        self.assertEqual(v, "improved")
        self.assertEqual(win, 1.0)

    def test_noise_is_unchanged(self):
        base = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
        change = [10.1, 10.0, 10.2, 9.9, 10.1, 10.0, 10.2, 9.9, 10.1, 10.0]
        v, _ = compare.verdict(base, change, "lower", 0.1, self.paired(base, change))
        self.assertEqual(v, "unchanged")

    def test_regression_beyond_bound_is_worse(self):
        base = [10.0] * 10
        change = [12.0] * 10
        v, _ = compare.verdict(base, change, "lower", 0.1, self.paired(base, change))
        self.assertEqual(v, "worse")

    def test_higher_is_better_direction(self):
        base = [100.0] * 10
        change = [80.0] * 10
        v, _ = compare.verdict(base, change, "higher", 0.1, self.paired(base, change))
        self.assertEqual(v, "worse")

    def test_spread_wider_than_bound_is_unresolved(self):
        base = [8.0, 12.0, 9.0, 11.0, 10.0, 8.5, 11.5, 9.5, 10.5, 10.0]
        change = [10.5, 10.0, 10.2, 9.8, 10.4, 10.6, 9.9, 10.1, 10.3, 10.2]
        v, _ = compare.verdict(base, change, "lower", 0.1, self.paired(base, change))
        self.assertEqual(v, "unresolved")

    def test_pairs_by_seed(self):
        mk = lambda s, v: {"seed": s, "result": {"metrics": {"m": {"value": v}}}}
        base = [mk(1, 1.0), mk(2, 2.0)]
        change = [mk(2, 2.5), mk(1, 1.5)]
        self.assertEqual([(p["seed"], c["seed"]) for p, c in compare.pairs(base, change)],
                         [(1, 1), (2, 2)])


def digests(workload, seed):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--mode", "digest",
                        "--workload", workload, "--seed", str(seed), "--seconds", "1"],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                       timeout=600)
    if r.returncode != 0:
        raise AssertionError(f"digest run failed with exit code {r.returncode}")
    return {x["name"]: (x["rows"], x["digest"]) for x in
            json.loads(r.stdout.strip().splitlines()[-1])["inputs"]}


class SeedTest(unittest.TestCase):
    def test_seed_fixes_inputs(self):
        for workload in ("medallion_batch", "cdc_stream"):
            a, b, c = digests(workload, 1), digests(workload, 1), digests(workload, 2)
            self.assertEqual(a, b, workload)
            self.assertEqual(a.keys(), c.keys())
            for name in a:
                self.assertEqual(a[name][0], c[name][0], f"{workload}/{name} size")
                self.assertNotEqual(a[name][1], c[name][1], f"{workload}/{name} digest")


if __name__ == "__main__":
    unittest.main()
