"""Tests of the benchmark's own arithmetic:
python3 -m unittest discover -s perfbench/tests"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_matches_inclusive_quantiles(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0]
        q = statistics.quantiles(xs, n=10, method="inclusive")
        self.assertAlmostEqual(stats.percentile(xs, 10), q[0])
        self.assertAlmostEqual(stats.percentile(xs, 90), q[8])
        self.assertEqual(stats.percentile(xs, 50), 5.0)
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 100), 9.0)

    def test_p90_has_ten_samples_beyond_it_from_one_hundred(self):
        def beyond(xs, q):
            return sum(1 for x in xs if x > stats.percentile(xs, q))
        xs = list(range(1, 101))
        self.assertEqual(beyond(xs, 90), 10)
        self.assertLess(beyond(xs[:90], 90), 10)
        self.assertEqual(beyond(xs[:21], 50), 10)  # 21 samples support the median

    def test_single_sample(self):
        self.assertEqual(stats.percentile([4.0], 90), 4.0)
        self.assertEqual(stats.quartiles([4.0]), (4.0, 4.0, 4.0))

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class UnionTest(unittest.TestCase):
    def test_overlaps_count_once(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)

    def test_nested_and_touching(self):
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_empty_and_inverted(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(5, 5), (7, 3)]), 0)

    def test_clipped_to_a_window(self):
        iv = stats.clipped([(0, 10), (15, 30)], 5, 20)
        self.assertEqual(stats.union_length(iv), 10)


def span(i, parent, start, end, kind="op"):
    return {"id": i, "parent": parent, "start_ms": start, "end_ms": end, "kind": kind}


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 60),
                 span(4, 2, 10, 20)]
        t = stats.self_times(spans)
        self.assertEqual(t[1], 50)   # 0..100 minus the union 10..60
        self.assertEqual(t[2], 20)   # 10..40 minus 10..20
        self.assertEqual(t[3], 30)
        self.assertEqual(t[4], 10)

    def test_child_outside_its_parent_only_counts_inside(self):
        t = stats.self_times([span(1, 0, 0, 10), span(2, 1, 5, 20)])
        self.assertEqual(t[1], 5)


class SplitOpTimeTest(unittest.TestCase):
    def test_parts_are_disjoint_and_sum_to_the_op_wall(self):
        op = span(1, 0, 0, 100)
        children = [("build", 0, 40, [(10, 20), (15, 25), (35, 60)]),
                    ("plan", 40, 50, []),
                    ("execute", 50, 90, [(55, 70), (60, 80)])]
        parts = stats.split_op_time(op, children)
        self.assertEqual(parts["eager_jobs"], 20)     # 10..25 and 35..40
        self.assertEqual(parts["construction"], 20)   # build 40 minus 20 staged
        self.assertEqual(parts["planning"], 10)
        self.assertEqual(parts["executor"], 25)       # 55..80
        self.assertEqual(parts["dispatch"], 25)       # 90..100 and 50..55, 80..90
        self.assertEqual(sum(parts.values()), 100)

    def test_write_stages_are_executor_time(self):
        parts = stats.split_op_time(span(1, 0, 0, 10), [("write", 0, 10, [(2, 6)])])
        self.assertEqual(parts["executor"], 4)
        self.assertEqual(parts["dispatch"], 6)


class AttributionTest(unittest.TestCase):
    def test_jobs_go_to_the_span_of_their_group(self):
        spans = [span(1, 0, 0, 10), span(2, 1, 0, 5, "build")]
        jobs = [{"id": 0, "group": "pb-2"}, {"id": 1, "group": "pb-1"},
                {"id": 2, "group": "pb-2"}, {"id": 3, "group": ""},
                {"id": 4, "group": "pb-9"}, {"id": 5, "group": "other"}]
        by_span, loose = stats.attribute(jobs, spans)
        self.assertEqual([j["id"] for j in by_span[2]], [0, 2])
        self.assertEqual([j["id"] for j in by_span[1]], [1])
        self.assertEqual([j["id"] for j in loose], [3, 4, 5])


class PairVerdictTest(unittest.TestCase):
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]

    def test_win_needs_nine_of_ten_and_a_gap_beyond_the_parent_iqr(self):
        change = [x - 1.0 for x in self.parent]
        v = stats.pair_verdict(self.parent, change, "lower", 0.1)
        self.assertEqual((v["verdict"], v["wins"]), ("win", 10))

    def test_eight_wins_are_not_enough(self):
        change = [x - 1.0 for x in self.parent]
        change[0] = change[1] = 20.0
        v = stats.pair_verdict(self.parent, change, "lower", 0.5)
        self.assertEqual(v["wins"], 8)
        self.assertNotEqual(v["verdict"], "win")

    def test_ties_count_for_neither_side(self):
        v = stats.pair_verdict(self.parent, list(self.parent), "lower", 0.1)
        self.assertEqual((v["verdict"], v["wins"]), ("unchanged", 0))

    def test_a_gap_inside_the_parent_iqr_is_no_win(self):
        change = [x - 0.01 for x in self.parent]
        v = stats.pair_verdict(self.parent, change, "lower", 0.1)
        self.assertEqual(v["wins"], 10)
        self.assertEqual(v["verdict"], "unchanged")

    def test_higher_is_better(self):
        change = [x + 1.0 for x in self.parent]
        self.assertEqual(stats.pair_verdict(self.parent, change, "higher", 0.1)["verdict"],
                         "win")

    def test_regression_beyond_the_bound(self):
        change = [x * 1.3 for x in self.parent]
        self.assertEqual(stats.pair_verdict(self.parent, change, "lower", 0.1)["verdict"],
                         "regressed")

    def test_spread_beyond_the_bound_is_unresolved(self):
        noisy = [5.0, 15.0, 6.0, 14.0, 10.0, 4.0, 16.0, 10.0, 7.0, 13.0]
        self.assertEqual(stats.pair_verdict(noisy, list(self.parent), "lower", 0.1)["verdict"],
                         "unresolved")


if __name__ == "__main__":
    unittest.main()
