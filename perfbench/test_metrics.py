"""Tests of the benchmark's pure logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import sys
import unittest

sys.dont_write_bytecode = True

import json  # noqa: E402
import os  # noqa: E402

import metrics  # noqa: E402
import outputs  # noqa: E402
import run  # noqa: E402


class TailTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail(list(range(10))))
        # 11 samples: only the smallest has ten samples above it
        self.assertEqual(metrics.tail(list(range(11))), (0, 9, 11))

    def test_highest_qualifying_percentile(self):
        v, p, n = metrics.tail(list(range(1, 101)))
        self.assertEqual((v, p, n), (90, 90, 100))
        self.assertEqual(sum(1 for x in range(1, 101) if x > v), 10)

    def test_ties_count_only_strictly_greater(self):
        s = [1.0] * 15 + [2.0] * 9
        # nine samples exceed 1.0, so no percentile qualifies
        self.assertIsNone(metrics.tail(s))
        v, _, _ = metrics.tail(s + [3.0])
        self.assertEqual(v, 1.0)

    def test_order_does_not_matter(self):
        s = [5, 3, 9, 1, 7, 2, 8, 6, 4, 10, 11, 12, 0]
        self.assertEqual(metrics.tail(s), metrics.tail(sorted(s)))


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_skips_empty(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6), (4, 4)]), 4)
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)

    def test_driver_gap_is_op_minus_job_union(self):
        # jobs overlap each other and one sticks out past the op's end
        gap = metrics.driver_gap((0, 10), [(1, 4), (3, 5), (8, 12)])
        self.assertEqual(gap, 10 - (4 + 2))

    def test_driver_gap_without_jobs_is_the_whole_op(self):
        self.assertEqual(metrics.driver_gap((2, 7), []), 5)


class SelfTimeTest(unittest.TestCase):
    def test_children_union_is_subtracted_once(self):
        spans = [
            {"id": 1, "parent": None, "name": "op", "start": 0, "end": 10},
            {"id": 2, "parent": 1, "name": "exec", "start": 2, "end": 10},
            {"id": 3, "parent": 2, "name": "sched", "start": 3, "end": 6},
            {"id": 4, "parent": 2, "name": "sched", "start": 5, "end": 7},
            {"id": 5, "parent": 2, "name": "catalyst", "start": 9, "end": 11},
        ]
        st = metrics.self_times(spans)
        self.assertEqual(st["op"], 2)
        self.assertEqual(st["exec"], 8 - (4 + 1))  # catalyst clipped at 10
        self.assertEqual(st["sched"], 3 + 2)
        self.assertEqual(st["catalyst"], 2)


class DigestTest(unittest.TestCase):
    def test_order_insensitive(self):
        self.assertEqual(metrics.digest(["a\t1", "b\t2", "c\t3"]),
                         metrics.digest(["c\t3", "a\t1", "b\t2"]))

    def test_multiset_sensitive(self):
        self.assertNotEqual(metrics.digest(["a", "a", "b"]),
                            metrics.digest(["a", "b", "b"]))
        self.assertNotEqual(metrics.digest(["a"]), metrics.digest(["a", "a"]))
        self.assertNotEqual(metrics.digest(["1\t2"]), metrics.digest(["1\t3"]))


class AggregateTest(unittest.TestCase):
    def test_per_pass_is_mix_neutral(self):
        # the window ended after the first op of pass two
        recs = [{"name": "a", "v": 1.0}, {"name": "b", "v": 3.0},
                {"name": "a", "v": 2.0}]
        self.assertEqual(metrics.per_pass(recs, "v"), 1.5 + 3.0)

    def test_repeatability_names_the_drifting_ops(self):
        recs = [{"name": "q1", "jobs": 21}, {"name": "q2", "jobs": 4},
                {"name": "q1", "jobs": 22}, {"name": "q2", "jobs": 4}]
        self.assertEqual(metrics.repeatability(recs, ["jobs"]), {"jobs": ["q1"]})


class CondorcetTest(unittest.TestCase):
    def test_winner(self):
        got = outputs.condorcet_result({("A", "B", "C"): 3, ("B", "C", "A"): 1})
        self.assertEqual(got, ["A\t2\tcondorcet_winner"])

    def test_cycle_ties(self):
        got = outputs.condorcet_result({("A", "B", "C"): 1, ("B", "C", "A"): 1,
                                        ("C", "A", "B"): 1})
        self.assertEqual(got, ["A\t1\ttie_argmax", "B\t1\ttie_argmax",
                               "C\t1\ttie_argmax"])

    def test_pipe_rows_are_canonicalised(self):
        self.assertEqual(outputs.canonical_rows("wg_pipe", ["7,3"]), ["7\t3"])
        self.assertEqual(outputs.canonical_rows("wg_typed", ["7\t3"]), ["7\t3"])


class DeclarationTest(unittest.TestCase):
    def test_metric_names_match_benchmark_json(self):
        path = os.path.join(run.ROOT, "BENCHMARK.json")
        with open(path) as f:
            decl = json.load(f)
        self.assertEqual([m["name"] for m in decl["end_to_end"]], run.END_TO_END)
        self.assertEqual([m["name"] for m in decl["per_layer"]],
                         [name for name, _, _ in run.PER_LAYER])
        self.assertEqual([w["name"] for w in decl["workloads"]],
                         list(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
