"""Unit tests of tools/abpairs.py's seed parsing, pair order, summary math
and classpath check. Run: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import abpairs  # noqa: E402


class SeedsAndOrder(unittest.TestCase):
    def test_ranges_and_lists(self):
        self.assertEqual(abpairs.parse_seeds("11-14"), [11, 12, 13, 14])
        self.assertEqual(abpairs.parse_seeds("1-2,7, 9"), [1, 2, 7, 9])
        self.assertEqual(abpairs.parse_seeds("5"), [5])
        with self.assertRaises(ValueError):
            abpairs.parse_seeds("4-3")
        with self.assertRaises(ValueError):
            abpairs.parse_seeds("")

    def test_order_alternates_by_parity(self):
        self.assertEqual(abpairs.order(11), ("a", "b"))
        self.assertEqual(abpairs.order(12), ("b", "a"))


class Summary(unittest.TestCase):
    def test_quartiles_inclusive(self):
        self.assertEqual(abpairs.quartiles([3.0]), (3.0, 3.0, 3.0))
        self.assertEqual(abpairs.quartiles([4.0, 1.0, 3.0, 2.0, 5.0]), (2.0, 3.0, 4.0))
        self.assertEqual(abpairs.quartiles([1.0, 2.0]), (1.25, 1.5, 1.75))

    def test_claim_holds_when_b_wins_nine_tenths_beyond_a_spread(self):
        # A: 10..19 (Q1-Q3 12.25-16.75, spread 4.5); B: 5 lower everywhere
        pairs = [(10.0 + i, 5.0 + i) for i in range(10)]
        s = abpairs.summarize(pairs)
        self.assertEqual((s["n"], s["wins"], s["ties"]), (10, 10, 0))
        self.assertAlmostEqual(s["gain"], 5.0)
        self.assertTrue(s["claim"])

    def test_claim_fails_inside_the_spread(self):
        # B wins every pair, but by 1 s against A's 4.5 s spread
        s = abpairs.summarize([(10.0 + i, 9.0 + i) for i in range(10)])
        self.assertEqual(s["wins"], 10)
        self.assertFalse(s["claim"])

    def test_claim_fails_below_nine_tenths(self):
        # 8 clear wins and 2 losses out of 10: 8/10 < 9/10
        pairs = [(20.0, 1.0)] * 8 + [(20.0, 30.0)] * 2
        s = abpairs.summarize(pairs)
        self.assertEqual(s["wins"], 8)
        self.assertFalse(s["claim"])
        # 9 of 10 is enough (A has no spread here)
        s9 = abpairs.summarize([(20.0, 1.0)] * 9 + [(20.0, 30.0)])
        self.assertTrue(s9["claim"])

    def test_ties_count_for_neither_side(self):
        s = abpairs.summarize([(5.0, 5.0)] * 9 + [(5.0, 4.0)])
        self.assertEqual((s["wins"], s["ties"]), (1, 9))
        self.assertFalse(s["claim"])

    def test_higher_is_better(self):
        s = abpairs.summarize([(0.5, 0.9)] * 10, lower_better=False)
        self.assertEqual(s["wins"], 10)
        self.assertAlmostEqual(s["gain"], 0.4)
        self.assertTrue(s["claim"])
        self.assertEqual(abpairs.summarize([(0.5, 0.9)] * 10)["wins"], 0)

    def test_no_pairs(self):
        with self.assertRaises(ValueError):
            abpairs.summarize([])


class ForeignClasspath(unittest.TestCase):
    def write_cp(self, checkout, entries):
        os.makedirs(os.path.join(checkout, ".bench_build"))
        with open(os.path.join(checkout, ".bench_build", "classpath.txt"), "w") as fh:
            fh.write(os.pathsep.join(entries))

    def test_own_classes_and_shared_jars_pass(self):
        with tempfile.TemporaryDirectory() as d:
            own = os.path.join(d, ".bench_build", "sbt-target", "scala-2.13", "classes")
            self.write_cp(d, [own, "/shared/jars/spark-sql.jar"])
            self.assertEqual(abpairs.foreign_classpath(d), [])

    def test_copied_checkout_is_caught(self):
        with tempfile.TemporaryDirectory() as orig, tempfile.TemporaryDirectory() as copy:
            other = os.path.join(orig, ".bench_build", "sbt-target", "scala-2.13", "classes")
            self.write_cp(copy, [other, "/shared/jars/spark-sql.jar"])
            self.assertEqual(abpairs.foreign_classpath(copy), [other])

    def test_no_build_yet(self):
        with tempfile.TemporaryDirectory() as d:
            self.assertEqual(abpairs.foreign_classpath(d), [])


if __name__ == "__main__":
    unittest.main()
