"""The percentile rule, the span self-time arithmetic and the base of
bytes written per changed row.

Run from the repository root: python3 -m unittest discover perfbench/tests
"""
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        self.assertFalse(metrics.reportable(19, 50))
        self.assertTrue(metrics.reportable(20, 50))
        self.assertFalse(metrics.reportable(99, 90))
        self.assertTrue(metrics.reportable(100, 90))
        self.assertFalse(metrics.reportable(999, 99))
        self.assertTrue(metrics.reportable(1000, 99))

    def test_highest_percentile(self):
        self.assertIsNone(metrics.highest_percentile(19))
        self.assertEqual(metrics.highest_percentile(20), 50)
        self.assertEqual(metrics.highest_percentile(99), 50)
        self.assertEqual(metrics.highest_percentile(100), 90)
        self.assertEqual(metrics.highest_percentile(1000), 99)
        self.assertEqual(metrics.highest_percentile(10000), 99.9)

    def test_interpolated_percentile(self):
        self.assertEqual(metrics.percentile([3, 1, 2], 50), 2)
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertAlmostEqual(metrics.percentile(range(101), 90), 90.0)
        self.assertIsNone(metrics.percentile([], 50))

    def test_report_marks_small_samples(self):
        r = metrics.Report()
        r.p50("x_ms", [1.0] * 19)
        self.assertIn("below", r.rows["x_ms"][3])
        r.p50("y_ms", [1.0] * 20)
        self.assertEqual(r.rows["y_ms"][3], "")


def span(i, parent, t0, t1):
    return {"id": i, "parent": parent, "t0": t0, "t1": t1}


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(metrics.union_length([]), 0)

    def test_self_is_duration_minus_children(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 30), span(2, 0, 40, 70),
                 span(3, 1, 12, 20)]
        st = metrics.self_times(spans)
        self.assertEqual(st[0], 100 - 20 - 30)
        self.assertEqual(st[1], 20 - 8)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 8)
        # the layers' self times add up to the root's wall time
        self.assertEqual(sum(st.values()), 100)

    def test_overlapping_children_count_once(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 60), span(2, 0, 50, 80)]
        self.assertEqual(metrics.self_times(spans)[0], 100 - 70)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 90, 120)]
        self.assertEqual(metrics.self_times(spans)[0], 90)


class ChangedRowBase(unittest.TestCase):
    def test_cdc_rows_of_the_version(self):
        with tempfile.TemporaryDirectory() as table:
            for v, part, n in [(3, "BOROUGH=MN", 4), (3, "BOROUGH=BK", 2), (4, "BOROUGH=MN", 7)]:
                d = os.path.join(table, "_graft_cdc", f"v{v:08d}", part)
                os.makedirs(d)
                pq.write_table(pa.table({"x": list(range(n))}), os.path.join(d, "c.parquet"))
            run = {"tables": {"landmarks": table, "events": "/nonexistent"}}
            merge = {"kind": "merge", "table": "landmarks", "version": 3}
            self.assertEqual(metrics.changed_rows(run, merge, 50), 6)
            self.assertEqual(metrics.changed_rows(run, dict(merge, version=5), 50), 0)

    def test_append_counts_the_rows_appended(self):
        run = {"tables": {"events": "/nonexistent"}}
        append = {"kind": "append", "table": "events", "version": 9}
        self.assertEqual(metrics.changed_rows(run, append, 1000), 1000)


if __name__ == "__main__":
    unittest.main()
