"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s etlbench -p 'test_*.py'
"""
import unittest

import metrics as M


class TailTest(unittest.TestCase):
    def test_fixed_percentile_interpolates(self):
        v, label, beyond = M.tail([float(x) for x in range(1, 11)])
        self.assertAlmostEqual(v, 9.1)
        self.assertEqual(label, "p90")
        self.assertEqual(beyond, 1)

    def test_single_sample_is_its_own_tail(self):
        self.assertEqual(M.tail([2.5])[0], 2.5)

    def test_order_does_not_matter(self):
        self.assertEqual(M.tail([3.0, 1.0, 2.0])[0], M.tail([1.0, 2.0, 3.0])[0])

    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(M.highest_percentile_with(100), 90)
        self.assertEqual(M.highest_percentile_with(1000), 99)
        self.assertEqual(M.highest_percentile_with(11), 9)
        self.assertIsNone(M.highest_percentile_with(10))
        self.assertIsNone(M.highest_percentile_with(3))


class SelfTimeTest(unittest.TestCase):
    def test_prefix_medians_telescope(self):
        selfs = M.self_times([1.0, 3.0, 3.5, 6.0])
        self.assertEqual(selfs, [1.0, 2.0, 0.5, 2.5])
        self.assertAlmostEqual(sum(selfs), 6.0)

    def test_negative_self_time_is_kept(self):
        # a layer cheaper than the noise between two prefixes reads below 0;
        # hiding it would break the sum
        self.assertEqual(M.self_times([2.0, 1.5]), [2.0, -0.5])


class DriverGapTest(unittest.TestCase):
    def test_overlapping_and_clipped_intervals(self):
        # busy: [0, .5] (clipped), [1, 4] (merged), [6, 7], [9, 10] (clipped)
        intervals = [(1, 3), (2, 4), (6, 7), (9, 12), (-1, 0.5), (11, 13)]
        self.assertAlmostEqual(M.busy_union(0, 10, intervals), 5.5)
        self.assertAlmostEqual(M.driver_gap(0, 10, intervals), 4.5)

    def test_no_tasks_is_all_gap(self):
        self.assertEqual(M.driver_gap(5, 8, []), 3)

    def test_nested_interval(self):
        self.assertAlmostEqual(M.driver_gap(0, 10, [(0, 10), (2, 3)]), 0)

    def test_core_util(self):
        self.assertAlmostEqual(M.core_util(task_s=8.0, wall_s=4.0, cores=4), 0.5)


class FailedFracTest(unittest.TestCase):
    def test_ops_and_checks_both_count(self):
        self.assertAlmostEqual(M.failed_frac(1, 1, 8), 0.25)
        self.assertEqual(M.failed_frac(0, 0, 5), 0.0)


if __name__ == "__main__":
    unittest.main()
