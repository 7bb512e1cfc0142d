"""Tests of the benchmark's own helpers.

Run from the repository root:  python3 -m unittest discover -s perfbench
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import benchlib  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


class TailRule(unittest.TestCase):
    def test_small_samples_fall_back_to_the_median(self):
        for n in (1, 2, 11, 19):
            xs = list(range(1, n + 1))
            value, pct, count = benchlib.tail(xs)
            self.assertEqual(pct, 50.0)
            self.assertEqual(count, n)
            self.assertEqual(value, benchlib.nearest_rank(xs, 50.0))

    def test_highest_percentile_with_ten_samples_beyond(self):
        for n, want in ((20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
                        (100, 90.0), (199, 90.0), (200, 95.0), (999, 95.0),
                        (1000, 99.0), (10000, 99.9)):
            xs = list(range(n, 0, -1))  # order must not matter
            value, pct, _ = benchlib.tail(xs)
            self.assertEqual(pct, want, n)
            self.assertGreaterEqual(sum(1 for x in xs if x > value), 10, n)

    def test_nearest_rank(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(benchlib.nearest_rank(xs, 50.0), 3.0)
        self.assertEqual(benchlib.nearest_rank(xs, 100.0), 5.0)
        self.assertEqual(benchlib.nearest_rank(xs, 1.0), 1.0)


class WindowMetrics(unittest.TestCase):
    def test_medians_by_kind_and_rate(self):
        window = {"window_s": 10.0, "ops": [
            {"kind": "write", "name": "b1", "s": 4.0},
            {"kind": "read", "name": "q1", "s": 1.0},
            {"kind": "read", "name": "q2", "s": 3.0},
            {"kind": "read", "name": "q3", "s": 2.0},
            {"kind": "write", "name": "b2", "s": 6.0}]}
        m = benchlib.window_metrics(window)
        self.assertEqual(m["write_p50_s"], 5.0)
        self.assertEqual(m["read_p50_s"], 2.0)
        self.assertEqual(m["ops_per_s"], 0.5)

    def test_each_name_weighs_the_same(self):
        # q1 ran three times and q2 once: the figure is the median of
        # their medians (1.0 and 3.0), not of the four samples
        ops = [{"kind": "read", "name": "q1", "s": s} for s in (1.0, 0.5, 9.0)]
        ops.append({"kind": "read", "name": "q2", "s": 3.0})
        self.assertEqual(benchlib.kind_p50(ops, "read"), 2.0)
        self.assertEqual(benchlib.kind_p50(ops[:3] + ops[:3] + ops[3:], "read"), 2.0)

    def test_self_time_subtracts_children(self):
        spans = [
            {"id": 0, "parent": -1, "start_s": 0.0, "end_s": 10.0},
            {"id": 1, "parent": 0, "start_s": 1.0, "end_s": 3.0},
            {"id": 2, "parent": 0, "start_s": 4.0, "end_s": 8.0},
            {"id": 3, "parent": 2, "start_s": 5.0, "end_s": 6.0}]
        st = benchlib.self_times(spans)
        self.assertAlmostEqual(st[0], 4.0)
        self.assertAlmostEqual(st[1], 2.0)
        self.assertAlmostEqual(st[2], 3.0)
        self.assertAlmostEqual(st[3], 1.0)


class Inputs(unittest.TestCase):
    def _write(self, d, seed):
        return gen.write(d, seed, scale=0.02)

    def test_same_seed_same_bytes_other_seed_differs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            self._write(a, 5)
            self._write(b, 5)
            self._write(c, 6)
            names = sorted(os.listdir(a))
            self.assertEqual(len(names), len(gen.TABLES))
            _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            _, mismatch, _ = filecmp.cmpfiles(a, c, names, shallow=False)
            # region and nation are fixed; every seeded table differs
            self.assertEqual(sorted(mismatch),
                             sorted(f"{t}.parquet" for t in gen.TABLES
                                    if t not in ("region", "nation")))

    def test_a_table_does_not_depend_on_the_others_written(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.write(a, 9, scale=0.02)
            gen.write(b, 9, scale=0.02, only=("documents", "embeddings"))
            _, mismatch, errors = filecmp.cmpfiles(
                a, b, ["documents.parquet", "embeddings.parquet"], shallow=False)
            self.assertEqual((mismatch, errors), ([], []))


class Names(unittest.TestCase):
    def test_every_emitted_name_is_well_formed(self):
        for name in list(run.END_TO_END) + list(run.PER_LAYER) + list(run.WORKLOADS):
            self.assertRegex(name, benchlib.NAME_RE)
            self.assertLessEqual(len(name), 64)

    def test_benchmark_json_lists_what_run_emits(self):
        path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("BENCHMARK.json is not in this tree")
        with open(path) as fh:
            spec = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
