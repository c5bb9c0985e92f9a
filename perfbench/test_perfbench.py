"""The benchmark's own tests: the tail-percentile rule, the self-time
arithmetic, the attribution of Spark jobs to spans and seed determinism
of the generators.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import tempfile
import unittest

import gen
import metrics
from stats import layer_self_times, median, self_times, tail, union_length


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        values = list(range(1, 101))  # 1..100, shuffled order must not matter
        values.reverse()
        value, pct, n = tail(values)
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for v in values if v > value), 10)

    def test_percentile_falls_as_samples_shrink(self):
        value, pct, n = tail(list(range(40)))
        self.assertEqual((value, pct, n), (29, 75.0, 40))
        value, pct, n = tail(list(range(11)))
        self.assertEqual((value, n), (0, 11))

    def test_too_few_samples_reports_the_maximum(self):
        self.assertEqual(tail([3, 1, 2]), (3, 100.0, 3))

    def test_median(self):
        self.assertEqual(median([3, 1, 2]), 2)
        self.assertEqual(median([4, 1, 2, 3]), 2.5)


class SelfTime(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(union_length([(0, 4), (2, 6), (10, 11)]), 7)
        self.assertEqual(union_length([]), 0)

    def test_self_time_subtracts_children_clipped_to_parent(self):
        spans = [
            {"id": 1, "parent": None, "layer": "txlog", "start": 0, "end": 100},
            {"id": 2, "parent": 1, "layer": "spark", "start": 10, "end": 30},
            {"id": 3, "parent": 1, "layer": "spark", "start": 20, "end": 50},
            # runs past its parent's end: only 90..100 is inside
            {"id": 4, "parent": 1, "layer": "spark", "start": 90, "end": 120},
        ]
        st = self_times(spans)
        self.assertEqual(st[1], 100 - (40 + 10))
        self.assertEqual(st[2], 20)
        self.assertEqual(layer_self_times(spans), {"txlog": 50, "spark": 20 + 30 + 30})

    def test_nested_spans_each_lose_only_their_direct_children(self):
        spans = [
            {"id": "a", "parent": None, "layer": "client", "start": 0, "end": 10},
            {"id": "b", "parent": "a", "layer": "mr", "start": 2, "end": 8},
            {"id": "c", "parent": "b", "layer": "spark", "start": 3, "end": 5},
        ]
        self.assertEqual(self_times(spans), {"a": 4, "b": 4, "c": 2})


class JobAttribution(unittest.TestCase):
    def test_jobs_and_shuffle_count_toward_every_enclosing_span(self):
        spans = [
            {"id": 1, "parent": 0, "op": 1, "pass": 1, "name": "wordCount", "layer": "mr",
             "start": 0, "end": 100},
            {"id": 2, "parent": 1, "op": 1, "pass": 1, "name": "mr.plan", "layer": "mr",
             "start": 0, "end": 10},
            {"id": 3, "parent": 0, "op": 3, "pass": 1, "name": "q1", "layer": "operators",
             "start": 100, "end": 200},
        ]
        jobs = [{"job": 0, "parent": 2, "start": 1, "end": 5, "shuffle_write_bytes": 10},
                {"job": 1, "parent": 1, "start": 20, "end": 90, "shuffle_write_bytes": 30},
                {"job": 2, "parent": 3, "start": 110, "end": 190, "shuffle_write_bytes": 500}]
        raw = {"passes": [{"pass": 0, "traced": False, "spark": {"job_spans": []}},
                          {"pass": 1, "traced": True, "spark": {"job_spans": jobs}}],
               "spans": spans}
        t = metrics.Trace(raw)
        self.assertEqual(t.jobs_per("wordCount"), 2)
        self.assertEqual(t.jobs_per("mr.plan"), 1)
        self.assertEqual(t.shuffle_per_pass("wordCount"), 40)
        self.assertEqual(t.shuffle_per_pass("wordCount", "q1"), 540)


class GeneratorDeterminism(unittest.TestCase):
    def _gen(self, workload, seed, d):
        manifest, expected = gen.generate(workload, seed, d)
        return json.dumps(manifest, sort_keys=True), json.dumps(expected, sort_keys=True)

    def _files(self, d):
        """Relative path -> bytes of every generated file except the
        manifest, which holds absolute paths."""
        out = {}
        for root, _, files in os.walk(d):
            for n in files:
                if n != "manifest.json":
                    p = os.path.join(root, n)
                    with open(p, "rb") as f:
                        out[os.path.relpath(p, d)] = f.read()
        return out

    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        for workload in gen.GENERATORS:
            with self.subTest(workload), tempfile.TemporaryDirectory() as t:
                a, b, c = (os.path.join(t, x) for x in "abc")
                ma, ea = self._gen(workload, 7, a)
                mb, eb = self._gen(workload, 7, b)
                self._gen(workload, 8, c)
                self.assertEqual(ma.replace(a, "X"), mb.replace(b, "X"))
                self.assertEqual(ea.replace(a, "X"), eb.replace(b, "X"))
                fa, fc = self._files(a), self._files(c)
                self.assertEqual(fa, self._files(b))
                self.assertEqual(sorted(fa), sorted(fc))
                self.assertNotEqual(fa, fc)

    def test_work_per_pass_does_not_depend_on_the_seed(self):
        with tempfile.TemporaryDirectory() as t:
            shapes = []
            for seed in (1, 2):
                m, e = gen.generate("mr_sql", seed, os.path.join(t, str(seed)))
                shapes.append([(c["rows"], c["lines"]) for c in e["calls"]])
                m, _ = gen.generate("lake_lifecycle", seed, os.path.join(t, f"l{seed}"))
                shapes.append([s["op"] for s in m["steps"]])
            self.assertEqual(shapes[0], shapes[2])
            self.assertEqual(shapes[1], shapes[3])

    def test_distinct_sorted_order_is_bucket_then_lexicographic(self):
        lines = [str(x) for x in (3333333333, 5, 2 ** 31, 40, 5, 2 ** 30 + 1)]
        self.assertEqual(gen.expected_distinct_sorted(lines, 4),
                         ["40", "5", str(2 ** 30 + 1), str(2 ** 31), "3333333333"])


if __name__ == "__main__":
    unittest.main()
