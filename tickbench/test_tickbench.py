#!/usr/bin/env python3
"""Self-tests of the benchmark's own code.

    python3 tickbench/test_tickbench.py

The generator test compiles the benchmark on first use (see run.py).
"""

import os
import subprocess
import sys
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(list(reversed(xs)), 90), 90)

    def test_needs_ten_samples_beyond(self):
        self.assertEqual(stats.percentile(range(100), 90), 89)  # 10 beyond
        with self.assertRaises(ValueError):
            stats.percentile(range(99), 90)  # 9 beyond
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_highest_reportable(self):
        self.assertEqual(stats.highest_percentile(range(1000)), (99, 989))
        self.assertEqual(stats.highest_percentile(range(100)), (90, 89))
        self.assertEqual(stats.highest_percentile(range(40)), (75, 29))
        self.assertIsNone(stats.highest_percentile(range(19)))

    def test_spread(self):
        self.assertAlmostEqual(stats.spread([10.0] * 10), 0.0)
        vals = [float(x) for x in range(1, 11)]  # quartiles 2.75, 8.25
        self.assertAlmostEqual(stats.spread(vals), 5.5 / 5.5)


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(stats.self_time((0, 10), []), 10)

    def test_children_clipped_and_merged(self):
        # [2,4] and [3,6] overlap (cover 4); [8,15] is clipped to [8,10]
        self.assertEqual(stats.self_time((0, 10), [(3, 6), (2, 4), (8, 15)]), 4)

    def test_children_outside(self):
        self.assertEqual(stats.self_time((0, 10), [(-5, -1), (10, 12)]), 10)

    def test_fully_covered(self):
        self.assertEqual(stats.self_time((0, 10), [(0, 5), (5, 10)]), 0)


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.classes = run.build(time.monotonic() + run.BUILD_LIMIT_S)

    def digest(self, seed):
        cp = self.classes + ":" + os.path.join(run.spark_jars(), "*")
        out = subprocess.run(["java", "-cp", cp, "tickbench.Main", "digest", str(seed), "50"],
                             capture_output=True, text=True, check=True)
        return out.stdout.strip()

    def test_same_seed_same_inputs(self):
        self.assertEqual(self.digest(7), self.digest(7))

    def test_other_seed_other_inputs(self):
        self.assertNotEqual(self.digest(7), self.digest(8))


if __name__ == "__main__":
    unittest.main()
