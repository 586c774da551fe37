"""Tests for the benchmark's metric arithmetic:
python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics


class PercentileTest(unittest.TestCase):
    def test_median_reports_its_sample_count(self):
        self.assertEqual(metrics.median([3, 1, 2]), (2, 3))
        self.assertEqual(metrics.median([4, 1, 3, 2]), (2.5, 4))

    def test_tail_percentile_needs_ten_samples_beyond_it(self):
        xs = list(range(1, 1001))
        self.assertEqual(metrics.percentile(xs, 0.99), (990, 1000))
        with self.assertRaises(ValueError):
            metrics.percentile(xs[:999], 0.99)

    def test_median_rank_is_allowed_with_few_samples(self):
        self.assertEqual(metrics.percentile([5, 1, 3], 0.5), (3, 3))

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 0.5)
        with self.assertRaises(ValueError):
            metrics.median([])


class FreshnessTest(unittest.TestCase):
    def test_each_version_waits_for_the_first_commit_covering_it(self):
        # versions 11..16 come due every 10 time units from 100 (11 at 110);
        # commits cover up to 12 at 150, then up to 16 at 200
        commits = [(12, 150), (16, 200)]
        got = metrics.freshness(commits, 11, 16, 100, 10)
        self.assertEqual(got, [150 - 110, 150 - 120, 200 - 130, 200 - 140,
                               200 - 150, 200 - 160])

    def test_versions_no_commit_covers_are_left_out(self):
        self.assertEqual(metrics.freshness([(11, 130)], 11, 13, 100, 10), [20])


class CoverageTest(unittest.TestCase):
    def test_self_time_with_overlapping_children(self):
        # span 0..100; children 10..40 and 30..50 overlap; 90..120 reaches
        # past the span's end
        children = [(10, 40), (30, 50), (90, 120)]
        self.assertEqual(metrics.uncovered((0, 100), children), 100 - 40 - 10)

    def test_driver_only_time_from_overlapping_jobs(self):
        # jobs run 0..20 (started before the batch), 15..30 and 60..70 in
        # a batch 10..80: busy 10..30 and 60..70
        jobs = [(0, 20), (15, 30), (60, 70)]
        self.assertEqual(metrics.uncovered((10, 80), jobs), 70 - 20 - 10)

    def test_nested_and_disjoint_intervals(self):
        self.assertEqual(metrics.covered(0, 100, [(10, 60), (20, 30), (70, 80)]), 60)
        self.assertEqual(metrics.covered(0, 100, [(200, 300)]), 0)
        self.assertEqual(metrics.uncovered((0, 100), []), 100)


if __name__ == "__main__":
    unittest.main()
