"""Tests of the benchmark's statistics helpers.

    python3 -m unittest discover -s benchmark -p 'test_*.py'
"""

import unittest

import stats


class TailTest(unittest.TestCase):
    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(stats.tail(list(range(10))))

    def test_leaves_exactly_ten_samples_beyond(self):
        for n in (11, 50, 60, 100, 333):
            xs = list(range(n, 0, -1))  # unsorted on purpose
            value, pct = stats.tail(xs)
            self.assertEqual(sum(1 for x in xs if x > value), 10)
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)

    def test_percentiles_for_the_benchmark_sample_counts(self):
        self.assertEqual(stats.tail(list(range(100)))[1], 90.0)
        self.assertEqual(stats.tail(list(range(50)))[1], 80.0)

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])


class LagAttributionTest(unittest.TestCase):
    BATCHES = [(1000, 1800), (1800, 3500), (3500, 3900)]

    def test_file_goes_to_first_batch_started_after_it_was_written(self):
        lags = stats.attribute_lags([(900, 905), (1200, 1201), (1800, 1800)],
                                    self.BATCHES)
        self.assertEqual(lags, [0.9, 2.3, 1.7])

    def test_lag_counts_from_due_time_when_the_generator_is_late(self):
        # due at 1000 but written at 1900: only the third batch can see it,
        # and the 900 ms the generator lost are part of the lag
        self.assertEqual(stats.attribute_lags([(1000, 1900)], self.BATCHES), [2.9])

    def test_file_after_the_last_batch_is_unattributed(self):
        self.assertEqual(stats.attribute_lags([(3600, 3601)], self.BATCHES), [None])

    def test_batch_order_does_not_matter(self):
        files = [(900, 905), (1200, 1201)]
        self.assertEqual(stats.attribute_lags(files, self.BATCHES[::-1]),
                         stats.attribute_lags(files, self.BATCHES))


if __name__ == "__main__":
    unittest.main()
