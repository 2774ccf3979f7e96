"""Tests of the benchmark's pure helpers. Run from the repo root:
python3 -m unittest discover -s perfbench/tests"""
import json
import os
import sys
import unittest

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from benchlib import gen, oracle, report, stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile([3.0], 90), 3.0)

    def test_p90_needs_a_hundred_samples(self):
        self.assertEqual(stats.tail_rank(100), 90)   # 10 samples above rank 90
        self.assertEqual(stats.tail_rank(1000), 90)  # capped at the target
        self.assertEqual(stats.tail_rank(99), 89)

    def test_lower_percentile_with_fewer_samples(self):
        p = stats.tail_rank(40)
        self.assertEqual(p, 75)
        self.assertGreaterEqual(40 - 30, 10)  # rank ceil(0.75*40)=30, 10 above
        self.assertEqual(stats.tail_rank(41), 75)

    def test_floor_at_median(self):
        self.assertEqual(stats.tail_rank(5), 50)
        self.assertEqual(stats.tail_rank(19), 50)

    def test_tail_reports_count(self):
        p, v, n = stats.tail([float(i) for i in range(40)])
        self.assertEqual((p, v, n), (75, 29.0, 40))


    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 4.0]), 2.0)
        self.assertAlmostEqual(stats.geomean([3.0]), 3.0)


class TaskIntervals(unittest.TestCase):
    def test_union_merges_overlaps_once(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(5, 5), (7, 6)]), 0)

    def test_slot_util_counts_parallel_tasks(self):
        # two slots, window 0..10; two tasks run 0..10 together -> full
        self.assertAlmostEqual(stats.slot_util([(0, 10), (0, 10)], 2, 0, 10), 1.0)
        # one task over half the window on four slots
        self.assertAlmostEqual(stats.slot_util([(0, 5)], 4, 0, 10), 0.125)
        # tasks are cut to the window
        self.assertAlmostEqual(stats.slot_util([(-5, 5)], 1, 0, 10), 0.5)

    def test_driver_only_is_the_uncovered_window(self):
        self.assertEqual(stats.driver_only([(0, 10), (5, 15), (20, 25)], 0, 30), 10)
        self.assertEqual(stats.driver_only([], 0, 30), 30)
        self.assertEqual(stats.driver_only([(0, 30), (1, 2)], 0, 30), 0)


    def test_windows_take_only_their_own_time(self):
        tasks = [(0, 10), (20, 30)]
        # windows 0..10 and 20..40: 20 busy slot-units of 2 * 30
        self.assertAlmostEqual(stats.slot_util_windows(tasks, 2, [(0, 10), (20, 40)]), 20 / 60)
        # the gap 10..20 between windows is not counted
        self.assertEqual(stats.driver_only_windows(tasks, [(0, 10), (20, 40)]), 10)
        self.assertEqual(stats.slot_util_windows(tasks, 2, []), 0.0)


class SpanSelfTime(unittest.TestCase):
    def test_self_time_subtracts_children_once(self):
        self.assertEqual(stats.self_time((0, 100), [(10, 30), (20, 40)]), 70)
        self.assertEqual(stats.self_time((0, 100), [(90, 150)]), 90)
        self.assertEqual(stats.self_time((0, 100), []), 100)

    def test_layer_self_times_with_assigned_parents(self):
        sp = lambda i, parent, op, layer, s, e: dict(
            id=i, parent=parent, op=op, layer=layer, start_us=s, end_us=e)
        spans = [sp(1, -1, 1, "op", 0, 100),
                 sp(2, 1, 1, "queries", 0, 20),
                 sp(3, 1, 1, "execute", 20, 100),
                 sp(4, -1, 1, "spark", 30, 80),     # job inside execute
                 sp(5, -1, -1, "planner", 21, 25),  # phase inside execute
                 sp(6, 4, -1, "spark", 40, 60)]     # stage of the job
        parents = stats.assign_parents(spans, {
            "spark": ["execute", "queries"], "planner": ["execute", "queries"]})
        self.assertEqual(parents[4], 3)
        self.assertEqual(parents[5], 3)
        self.assertEqual(parents[6], 4)
        got = stats.layer_self_times(spans, parents)
        self.assertEqual(got["op"], 0)
        self.assertEqual(got["queries"], 20)
        self.assertEqual(got["execute"], 80 - 50 - 4)
        self.assertEqual(got["planner"], 4)
        self.assertEqual(got["spark"], 50 - 20 + 20)

    def test_unmatched_span_has_no_parent(self):
        spans = [dict(id=1, parent=-1, op=-1, layer="spark", start_us=0, end_us=5)]
        self.assertEqual(stats.assign_parents(spans, {"spark": ["execute"]}), {1: -1})


class OracleNormalisation(unittest.TestCase):
    def test_column_order_and_int_width_are_ignored(self):
        a = pd.DataFrame({"b": pd.Series([1, 2], dtype="int32"), "a": [0.5, 1.5]})
        b = pd.DataFrame({"a": [0.5, 1.5], "b": pd.Series([1, 2], dtype="int64")})
        self.assertIsNone(oracle.compare(a, b))
        self.assertEqual(oracle.digest(oracle.normalise(a)), oracle.digest(oracle.normalise(b)))

    def test_int_float_class_mismatch_fails(self):
        a = pd.DataFrame({"n": pd.Series([1, 2], dtype="int64")})
        b = pd.DataFrame({"n": [1.0, 2.0]})
        self.assertIn("class mismatch", oracle.compare(a, b))

    def test_float_values_compare_exactly(self):
        a = pd.DataFrame({"x": [0.1 + 0.2]})
        b = pd.DataFrame({"x": [0.3]})
        self.assertIn("differs", oracle.compare(a, b))
        self.assertNotEqual(oracle.digest(oracle.normalise(a)), oracle.digest(oracle.normalise(b)))

    def test_nulls_match_nulls(self):
        a = pd.DataFrame({"s": ["x", None], "f": [1.0, float("nan")]})
        b = pd.DataFrame({"f": [1.0, None], "s": ["x", None]})
        self.assertIsNone(oracle.compare(a, b))

    def test_row_order_matters(self):
        a = pd.DataFrame({"k": [1, 2]})
        b = pd.DataFrame({"k": [2, 1]})
        self.assertIsNotNone(oracle.compare(a, b))

    def test_timestamps_normalise_to_microseconds(self):
        a = pd.DataFrame({"t": pd.to_datetime(["2024-01-01 00:00:01"]).astype("datetime64[ns]")})
        b = pd.DataFrame({"t": pd.to_datetime(["2024-01-01 00:00:01"]).astype("datetime64[us]")})
        self.assertIsNone(oracle.compare(a, b))


class Generators(unittest.TestCase):
    def _digest(self, seed):
        import hashlib
        import tempfile
        with tempfile.TemporaryDirectory() as d:
            sizes = gen.fixture(d, seed, 0.001, 300, 100)
            h = hashlib.sha256()
            for name in sorted(os.listdir(d)):
                h.update(pd.read_parquet(os.path.join(d, name)).to_csv().encode())
            return sizes, h.hexdigest()

    def test_same_seed_same_inputs_other_seed_same_sizes(self):
        s1, d1 = self._digest(7)
        s2, d2 = self._digest(7)
        s3, d3 = self._digest(8)
        self.assertEqual((s1, d1), (s2, d2))
        self.assertEqual(s1, s3)
        self.assertNotEqual(d1, d3)
        self.assertEqual(s1["near_dup_docs"], 15)
        self.assertEqual(s1["exact_dup_docs"], 3)


class BenchmarkFile(unittest.TestCase):
    def test_metrics_match_the_report_tables(self):
        path = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")
        with open(path) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]],
                         report.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]],
                         report.PER_LAYER)
        for m in bench["per_layer"]:
            want = "higher" if m["name"] in report.HIGHER_IS_BETTER else "lower"
            self.assertEqual(m["better"], want, m["name"])
        self.assertIn("setup_s", [m["name"] for m in bench["end_to_end"]])


if __name__ == "__main__":
    unittest.main()
