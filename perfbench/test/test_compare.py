"""Verdicts of the parent-vs-change comparison."""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402


class VerdictTest(unittest.TestCase):
    parent = [10.0, 10.1, 9.9, 10.0, 10.2, 9.8, 10.0, 10.1, 9.9, 10.0]

    def test_gain_needs_nine_tenths_of_pairs(self):
        change = [x - 1.0 for x in self.parent]
        self.assertEqual(run.verdict(self.parent, change, "lower", 0.1)["verdict"], "gain")
        change[0] = self.parent[0] + 1
        change[1] = self.parent[1] + 1
        self.assertNotEqual(run.verdict(self.parent, change, "lower", 0.1)["verdict"], "gain")

    def test_regression_beyond_bound(self):
        change = [x * 1.2 for x in self.parent]
        self.assertEqual(run.verdict(self.parent, change, "lower", 0.1)["verdict"], "regression")
        self.assertEqual(run.verdict(self.parent, change, "higher", 0.1)["verdict"], "gain")

    def test_within_bound_is_no_regression(self):
        change = [x * 1.02 for x in self.parent]
        self.assertEqual(run.verdict(self.parent, change, "lower", 0.1)["verdict"],
                         "no regression")

    def test_wide_parent_spread_is_unresolved(self):
        parent = [5.0, 15.0, 5.0, 15.0, 10.0, 6.0, 14.0, 10.0, 7.0, 13.0]
        change = [x * 1.05 for x in parent]
        self.assertEqual(run.verdict(parent, change, "lower", 0.1)["verdict"], "unresolved")


if __name__ == "__main__":
    unittest.main()
