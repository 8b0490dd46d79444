#!/usr/bin/env python3
"""Self-tests of the benchmark's pure helpers and of BENCHMARK.json's
agreement with run.py. No JVM needed.

Usage (from the repository root): python3 perfbench/selftest.py
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402
import stats  # noqa: E402


class Percentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        xs = list(range(1, 51))  # 50 samples
        self.assertEqual(stats.percentile(xs, 80), 40)  # 10 beyond
        self.assertEqual(stats.percentile(xs, 50), 25)
        with self.assertRaises(ValueError):
            stats.percentile(xs, 90)  # 5 beyond
        with self.assertRaises(ValueError):
            stats.percentile(list(range(20)), 80)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 3.0] * 20
        self.assertEqual(stats.percentile(xs, 50), stats.percentile(sorted(xs), 50))

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)


class Intervals(unittest.TestCase):
    def test_union(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.union_length([(20, 30), (0, 40)]), 40)
        self.assertEqual(stats.union_length([(0, 5), (5, 8)]), 8)

    def test_gap_and_in_flight(self):
        # three 10-long jobs, two overlapping, in a 40-long window
        gap, in_flight = stats.job_overlap([(0, 10), (5, 15), (20, 30)], 0, 40)
        self.assertEqual(gap, 15)
        self.assertAlmostEqual(in_flight, 30 / 25)

    def test_clipped_to_window(self):
        gap, in_flight = stats.job_overlap([(-5, 5), (8, 20), (30, 40)], 0, 10)
        self.assertEqual(gap, 3)
        self.assertAlmostEqual(in_flight, 1.0)
        self.assertEqual(stats.job_overlap([], 0, 10), (10, 0.0))


class Digest(unittest.TestCase):
    def test_parity_with_check_oracle(self):
        import duckdb
        sys.path.insert(0, os.path.join(os.path.dirname(run.HERE), "tools"))
        from check_oracle import canon
        oracle = duckdb.connect().execute(
            "SELECT * FROM (VALUES (1, 0.1234567, 'a', [1, 2]), "
            "(2, NULL, NULL, []), (3, 2.5, 'c', [7])) t(k, x, s, l)").df()
        d = tempfile.mkdtemp()
        try:
            # the shape graft.Verify and the harness write: a directory
            # holding one part file
            pq.write_table(pa.table({
                "s": ["c", None, "a"], "l": [[7], [], [1, 2]], "k": [3, 2, 1],
                "x": [2.5, None, 0.12345671]}), os.path.join(d, "part-0.parquet"))
            self.assertEqual(stats.digest_parquet(d), canon(oracle))
            pq.write_table(pa.table({
                "s": ["c", None, "a"], "l": [[7], [], [1, 2]], "k": [3, 2, 1],
                "x": [2.5, None, 0.1235]}), os.path.join(d, "part-0.parquet"))
            self.assertNotEqual(stats.digest_parquet(d), canon(oracle))
        finally:
            shutil.rmtree(d)


class Slice(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.base = os.path.join(self.tmp, "base")
        os.makedirs(self.base)
        orders = np.arange(1, 5001, dtype=np.int64)
        line_orders = np.repeat(orders, 3)
        tables = {
            "orders": {"o_orderkey": orders, "o_totalprice": orders * 1.5},
            "lineitem": {"l_orderkey": line_orders,
                         "l_linenumber": np.tile(np.arange(3, dtype=np.int32), 5000)},
            "events": {"event_id": np.arange(10000, dtype=np.int64)},
            "documents": {"doc_id": np.arange(700, dtype=np.int64)},
            "region": {"r_regionkey": np.arange(5, dtype=np.int32)},
        }
        for name, cols in tables.items():
            pq.write_table(pa.table(cols), os.path.join(self.base, name + ".parquet"))

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def make(self, seed, tag):
        return stats.make_inputs(self.base, os.path.join(self.tmp, tag), seed)

    def read(self, d, name):
        return pq.read_table(os.path.join(d, name + ".parquet")).to_pandas()

    def test_seed_zero_is_the_base(self):
        self.assertEqual(self.make(0, "z"), self.base)

    def test_deterministic(self):
        a, b = self.make(7, "a"), self.make(7, "b")
        for name in ("orders", "lineitem", "events", "documents", "region"):
            pd.testing.assert_frame_equal(self.read(a, name), self.read(b, name))

    def test_seeds_differ_and_keep_about_ninety_percent(self):
        a, c = self.make(7, "a"), self.make(8, "c")
        ka, kc = set(self.read(a, "orders").o_orderkey), set(self.read(c, "orders").o_orderkey)
        self.assertNotEqual(ka, kc)
        for k in (ka, kc):
            self.assertTrue(0.87 < len(k) / 5000 < 0.93, len(k))
        self.assertEqual(len(self.read(a, "region")), 5)

    def test_lines_follow_their_orders(self):
        a = self.make(7, "a")
        kept = set(self.read(a, "orders").o_orderkey)
        lines = self.read(a, "lineitem")
        self.assertEqual(set(lines.l_orderkey), kept)
        self.assertEqual(len(lines), 3 * len(kept))


class BenchmarkJson(unittest.TestCase):
    def test_metrics_match_run_py(self):
        with open(os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], run.E2E)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         run.per_layer_metrics())
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
