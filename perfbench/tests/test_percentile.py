"""The percentile rule: report a percentile only with at least 10
samples beyond it."""
import os
import random
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from run import percentile  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_at_least_ten_samples_lie_beyond_every_reported_value(self):
        rng = random.Random(0)
        for n in range(0, 260):
            values = [rng.random() for _ in range(n)]
            for q in (0.5, 0.9, 0.99):
                p = percentile(values, q)
                if p is not None:
                    self.assertGreaterEqual(sum(v > p for v in values), 10, (n, q))

    def test_thresholds(self):
        self.assertIsNone(percentile(list(range(19)), 0.5))
        self.assertEqual(percentile(list(range(20)), 0.5), 9)
        self.assertIsNone(percentile(list(range(99)), 0.9))
        self.assertEqual(percentile(list(range(100)), 0.9), 89)


if __name__ == "__main__":
    unittest.main()
