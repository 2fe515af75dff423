"""Self-tests of the benchmark's statistics; no Spark needed.

Run: python3 perfbench/test_stats.py
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def stat_line(user, nice, system, idle, iowait, irq, softirq, steal, guest=0, guest_nice=0):
    fields = [user, nice, system, idle, iowait, irq, softirq, steal, guest, guest_nice]
    return "cpu  " + " ".join(map(str, fields)) + "\ncpu0 1 2 3 4 5 6 7 8 9 10\n"


class MedianTest(unittest.TestCase):
    def test_odd_and_even_round_counts(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)

    def test_one_slow_round_does_not_move_it(self):
        self.assertAlmostEqual(stats.median([2.0, 2.1, 2.2, 30.0]), 2.15)

    def test_no_rounds_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.median([])


class TailTest(unittest.TestCase):
    def test_reported_with_ten_samples_beyond(self):
        values = [float(i) for i in range(1, 101)]
        p90 = stats.tail(values)
        self.assertIsNotNone(p90)
        self.assertEqual(sum(1 for v in values if v > p90), 10)

    def test_withheld_with_fewer_than_ten_beyond(self):
        # 90 samples: the p90 cut leaves only nine above it
        self.assertIsNone(stats.tail([float(i) for i in range(1, 91)]))
        self.assertIsNone(stats.tail([1.0] * 500))

    def test_threshold_is_a_parameter(self):
        self.assertIsNotNone(stats.tail([float(i) for i in range(1, 21)], min_beyond=2))


class StealShareTest(unittest.TestCase):
    def test_share_of_all_ticks(self):
        before = stat_line(100, 0, 50, 800, 10, 0, 5, 35)
        after = stat_line(400, 0, 150, 1400, 10, 0, 15, 85)
        # deltas: 300 + 100 + 600 + 10 + 50 steal = 1060 ticks
        self.assertAlmostEqual(stats.steal_share(before, after), 50 / 1060)

    def test_guest_time_is_not_double_counted(self):
        before = stat_line(0, 0, 0, 0, 0, 0, 0, 0, guest=0)
        after = stat_line(100, 0, 0, 100, 0, 0, 0, 0, guest=100)
        self.assertEqual(stats.steal_share(before, after), 0.0)

    def test_no_elapsed_ticks(self):
        line = stat_line(1, 2, 3, 4, 5, 6, 7, 8)
        self.assertEqual(stats.steal_share(line, line), 0.0)


class SpreadTest(unittest.TestCase):
    def test_quartile_spread_relative_to_median(self):
        self.assertAlmostEqual(stats.spread([1.0, 2.0, 3.0, 4.0, 5.0]), 3.0 / 3.0)
        self.assertEqual(stats.spread([2.0] * 10), 0.0)


if __name__ == "__main__":
    unittest.main()
