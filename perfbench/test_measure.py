"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import datetime
import decimal
import pathlib
import sys
import unittest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import measure  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        v = list(range(1, 101))
        self.assertEqual(measure.percentile(v, 50), 50)
        self.assertEqual(measure.percentile(v, 90), 90)
        self.assertEqual(measure.percentile(list(reversed(v)), 75), 75)
        self.assertEqual(measure.percentile([7.0], 90), 7.0)

    def test_ten_samples_beyond(self):
        self.assertEqual(measure.beyond(100, 90), 10)
        self.assertTrue(measure.supported(100, 90))
        self.assertFalse(measure.supported(99, 90))
        self.assertTrue(measure.supported(40, 75))
        self.assertFalse(measure.supported(39, 75))
        self.assertFalse(measure.supported(19, 50))


def span(i, name, start, end, parent=-1):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent, "call": 0}


class SelfTimes(unittest.TestCase):
    def test_nested_spans_add_up_to_the_root(self):
        spans = [span(0, "call", 0, 100), span(1, "build", 0, 30, 0), span(2, "drain", 30, 100, 0),
                 span(3, "analysis", 5, 15, 1), span(4, "job", 40, 60, 2), span(5, "job", 70, 90, 2)]
        st = measure.self_times(spans)
        self.assertEqual(st, {"call": 0, "build": 20, "drain": 30, "analysis": 10, "job": 40})
        self.assertEqual(sum(st.values()), 100)

    def test_overlapping_siblings_count_once(self):
        spans = [span(0, "call", 0, 100), span(1, "drain", 0, 100, 0),
                 span(2, "job", 10, 50, 1), span(3, "job", 30, 70, 1)]
        st = measure.self_times(spans)
        self.assertEqual(st["job"], 60)
        self.assertEqual(st["drain"], 40)
        self.assertEqual(sum(st.values()), 100)

    def test_children_are_clipped_to_their_parent(self):
        spans = [span(0, "call", 0, 50), span(1, "drain", 10, 50, 0), span(2, "job", 40, 80, 1)]
        st = measure.self_times(spans)
        self.assertEqual(st, {"call": 10, "drain": 30, "job": 10})

    def test_interval_helpers(self):
        self.assertEqual(measure.union([(5, 7), (0, 2), (1, 3), (4, 4)]), [(0, 3), (5, 7)])
        self.assertEqual(measure.length([(0, 2), (1, 3)]), 3)
        self.assertEqual(measure.overlap([(0, 10)], [(2, 3), (8, 12)]), 3)


class Fingerprints(unittest.TestCase):
    cols = ["b", "a"]
    rows = [(1, "x"), (2, "y|z"), (2, "y|z"), (None, "w")]

    def fp(self, cols, rows):
        return measure.fingerprint(cols, rows)

    def test_row_order_does_not_matter(self):
        self.assertEqual(self.fp(self.cols, self.rows), self.fp(self.cols, list(reversed(self.rows))))

    def test_column_order_does_not_matter(self):
        swapped = [(a, b) for b, a in self.rows]
        self.assertEqual(self.fp(self.cols, self.rows), self.fp(["a", "b"], swapped))

    def test_duplicates_names_and_values_count(self):
        base = self.fp(self.cols, self.rows)
        self.assertNotEqual(base, self.fp(self.cols, self.rows[:3]))
        self.assertNotEqual(base, self.fp(self.cols, self.rows[:2] + self.rows[3:] + [self.rows[0]]))
        self.assertNotEqual(base, self.fp(["b", "c"], self.rows))
        self.assertNotEqual(self.fp(["a", "b"], [("x|", "y")]), self.fp(["a", "b"], [("x", "|y")]))

    def test_numbers_compare_by_value(self):
        same = [(5,), (5.0,), (decimal.Decimal("5.00"),)]
        self.assertEqual(len({self.fp(["v"], [r]) for r in same}), 1)
        self.assertEqual(measure.cell(decimal.Decimal("0.10")), measure.cell(0.1))
        self.assertEqual(measure.cell(0.1 + 0.2), "0.30000000000000004")
        self.assertEqual(measure.cell(1e-05), "0.00001")
        self.assertEqual(measure.cell(1e16), "10000000000000000")
        self.assertEqual(measure.cell(-0.0), "0")
        self.assertEqual(measure.cell(float("nan")), "NaN")
        self.assertNotEqual(measure.cell(True), measure.cell(1))

    def test_timestamps(self):
        midnight = datetime.datetime(1998, 1, 14)
        self.assertEqual(measure.cell(midnight), measure.cell(datetime.date(1998, 1, 14)))
        self.assertEqual(measure.cell(datetime.datetime(2020, 1, 1, 10, 0, 0, 500000)),
                         "2020-01-01 10:00:00.500000")
        utc = datetime.datetime(2020, 1, 1, 12, tzinfo=datetime.timezone(datetime.timedelta(hours=2)))
        self.assertEqual(measure.cell(utc), "2020-01-01 10:00:00")

    def test_nested_values(self):
        self.assertEqual(measure.cell([1, None, "a"]), "[1, \\N, a]")
        self.assertEqual(measure.cell({"x": 1, "y": 2.5}), "{1, 2.5}")
        self.assertEqual(measure.cell({"key": ["b", "a"], "value": [2, 1]}, is_map=True), "{a: 1, b: 2}")


if __name__ == "__main__":
    unittest.main()
