"""Tests for the benchmark's statistics and digest.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import random
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import stats  # noqa: E402


class MedianTest(unittest.TestCase):
    def test_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.median([])


class QuartileSpreadTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [10.0, 11.0, 9.5, 10.5, 12.0, 10.2, 9.8, 10.1, 10.9, 11.4]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.quartile_spread(xs),
                               (q3 - q1) / statistics.median(xs))

    def test_constant_samples_have_no_spread(self):
        self.assertEqual(stats.quartile_spread([5.0] * 10), 0.0)

    def test_scale_free(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0]
        self.assertAlmostEqual(stats.quartile_spread(xs),
                               stats.quartile_spread([100 * x for x in xs]))


class TailPercentileTest(unittest.TestCase):
    def test_leaves_at_least_ten_beyond(self):
        for n in (20, 50, 100, 200, 312, 1000, 5000):
            p = stats.tail_percentile(n)
            self.assertGreaterEqual(n * (100 - p) / 100, 10, n)
            if p < 99:
                self.assertLess(n * (100 - (p + 1)) / 100, 10, n)

    def test_known_values(self):
        self.assertEqual(stats.tail_percentile(312), 96)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(1000), 99)

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail_percentile(19))

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 95), 95)
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile([7], 95), 7)


class ScalingEffTest(unittest.TestCase):
    def test_linear_scaling_is_one(self):
        self.assertAlmostEqual(stats.scaling_eff(40000.0, 10000.0), 1.0)

    def test_sublinear(self):
        self.assertAlmostEqual(stats.scaling_eff(47000.0, 13100.0),
                               47000.0 / 52400.0)

    def test_threads(self):
        self.assertAlmostEqual(stats.scaling_eff(16.0, 2.0, threads=8), 1.0)


class DigestTest(unittest.TestCase):
    rows = [("doc-1", "PAN Card", True, "", 8881, "aa", "bb"),
            ("doc-2", "Unknown", False, "missing name", 0, "cc", "dd"),
            ("doc-3", "Passport", True, None, 9912, "ee", "ff")]

    def test_order_independent(self):
        shuffled = self.rows[:]
        random.Random(7).shuffle(shuffled)
        self.assertEqual(stats.digest(self.rows), stats.digest(shuffled))

    def test_any_changed_cell_changes_it(self):
        base = stats.digest(self.rows)
        for i in range(len(self.rows[0])):
            changed = list(self.rows[0])
            changed[i] = "x" if not isinstance(changed[i], int) else changed[i] + 1
            self.assertNotEqual(stats.digest([tuple(changed)] + self.rows[1:]), base, i)

    def test_null_is_not_empty(self):
        a = [("d", "t", True, None, 1, "r", "s")]
        b = [("d", "t", True, "", 1, "r", "s")]
        self.assertNotEqual(stats.digest(a), stats.digest(b))

    def test_counts_rows(self):
        self.assertTrue(stats.digest(self.rows).startswith("3:"))
        self.assertEqual(stats.digest([]), "0:0")

    def test_spark_cell_rendering(self):
        self.assertEqual(stats.cell(True), "true")
        self.assertEqual(stats.cell(False), "false")
        self.assertEqual(stats.cell(8881), "8881")
        self.assertEqual(stats.cell(None), "\u0000")

    def test_duplicate_rows_count_twice(self):
        self.assertNotEqual(stats.digest(self.rows[:1]), stats.digest(self.rows[:1] * 2))


if __name__ == "__main__":
    unittest.main()
