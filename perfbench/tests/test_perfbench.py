"""Tests of the benchmark's pure parts and of its data generator.

Run from the root of a checkout: python3 -m unittest discover -s perfbench/tests
The generator tests build the harness first when its sources changed.
"""
import filecmp
import gzip
import json
import os
import shutil
import sys
import time
import unittest
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402


class TailPickTest(unittest.TestCase):
    def test_needs_more_samples_than_the_margin(self):
        self.assertIsNone(run.tail_pick([1.0] * 10))
        self.assertIsNotNone(run.tail_pick([1.0] * 11))

    def test_ten_samples_beyond(self):
        xs = list(range(1, 41))  # 40 samples
        pct, value, beyond = run.tail_pick(xs)
        self.assertEqual(value, 30)
        self.assertEqual(beyond, 10)
        self.assertAlmostEqual(pct, 75.0)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 0.5, 10.0, 11.0, 12.0]
        self.assertEqual(run.tail_pick(xs), run.tail_pick(sorted(xs)))
        self.assertEqual(run.tail_pick(xs)[1], 2.0)  # rank 3 of 13

    def test_ties_are_not_counted_beyond(self):
        pct, value, beyond = run.tail_pick([1.0] * 5 + [2.0] * 12)
        self.assertEqual(value, 2.0)
        self.assertEqual(beyond, 0)


class TaskCoresTest(unittest.TestCase):
    def test_half_the_cpus_and_at_least_one(self):
        self.assertEqual(run.task_cores(4), 2)
        self.assertEqual(run.task_cores(5), 2)
        self.assertEqual(run.task_cores(1), 1)


class MetricNameTest(unittest.TestCase):
    def all_names(self):
        return [n for n, _ in run.END_TO_END + run.UNBOUNDED + run.PER_LAYER]

    def test_names_match_the_pattern(self):
        for n in self.all_names():
            self.assertRegex(n, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

    def test_names_are_unique(self):
        self.assertEqual(len(set(self.all_names())), len(self.all_names()))

    def test_benchmark_json_lists_the_same_metrics(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], run.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]), sorted(run.WORKLOADS))
        self.assertLessEqual(set(run.STRUCTURE), set(dict(run.PER_LAYER)))


def read_lines(path):
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rt", encoding="utf-8") as f:
        return f.read().splitlines()


def table_lines(d):
    return [ln for p in sorted(os.listdir(d)) for ln in read_lines(os.path.join(d, p))]


class GeneratorTest(unittest.TestCase):
    ROWS = 120_000  # two bad-line blocks, the second one partial

    @classmethod
    def setUpClass(cls):
        os.makedirs(run.WORK, exist_ok=True)
        cls.cp = run.build()
        cls.base = os.path.join(run.WORK, "test-gen")
        shutil.rmtree(cls.base, ignore_errors=True)
        os.makedirs(cls.base)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.base, ignore_errors=True)

    def gen(self, name, seed, rows=ROWS):
        path = os.path.join(self.base, name)
        if not os.path.exists(path):
            run.java(self.cp, "perfbench.UvGen", [str(seed), str(rows), path],
                     time.time() + 120, heap="1g")
        return path

    def assert_same_tree(self, a, b):
        cmp = filecmp.dircmp(a, b)
        self.assertEqual(cmp.left_only + cmp.right_only, [])
        for sub in ("uservisits", "rankings"):
            files = sorted(os.listdir(os.path.join(a, sub)))
            match, mismatch, errors = filecmp.cmpfiles(
                os.path.join(a, sub), os.path.join(b, sub), files, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
        self.assertTrue(filecmp.cmp(os.path.join(a, "expected.json"),
                                    os.path.join(b, "expected.json"), shallow=False))

    def test_same_seed_same_bytes(self):
        self.assert_same_tree(self.gen("s7a", 7), self.gen("s7b", 7))

    def test_other_seed_other_data(self):
        a, b = self.gen("s7a", 7), self.gen("s8", 8)
        self.assertNotEqual(table_lines(os.path.join(a, "uservisits")),
                            table_lines(os.path.join(b, "uservisits")))

    def test_layout(self):
        d = self.gen("s7a", 7)
        parts = sorted(os.listdir(os.path.join(d, "uservisits")))
        self.assertEqual(len(parts), 16)
        self.assertEqual([p for p in parts if p.endswith(".gz")], parts[3::4])
        for line in table_lines(os.path.join(d, "uservisits"))[:1000]:
            self.assertEqual(len(line.split(",")), 9)

    def test_expected_results_follow_from_the_data(self):
        """Recomputes every expected value from the written files, the way
        the reference's mapper reads a line (mapper.py:50-54)."""
        d = self.gen("s7a", 7)
        with open(os.path.join(d, "expected.json")) as f:
            exp = json.load(f)

        cents, bad, lines = {}, 0, 0
        for line in table_lines(os.path.join(d, "uservisits")):
            lines += 1
            data = line.split(",")
            try:
                float(data[3])
            except ValueError:
                bad += 1
                continue
            whole, frac = data[3].split(".")
            key = data[0][:8]
            cents[key] = cents.get(key, 0) + int(whole) * 100 + int(frac)
        self.assertEqual(lines, self.ROWS)
        self.assertEqual(exp["uservisits_lines"], self.ROWS)
        self.assertEqual(bad, 2)  # one per started block of 100,000 lines
        self.assertEqual(exp["bad_lines"], bad)
        self.assertEqual(exp["agg2a_cents"], cents)

        rows, rank_sum, crc_sum, n = 0, 0, 0, 0
        for line in table_lines(os.path.join(d, "rankings")):
            n += 1
            url, rank, _ = line.split(",")
            if int(rank) > exp["scan_threshold"]:
                rows += 1
                rank_sum += int(rank)
                crc_sum += zlib.crc32(url.encode())
        self.assertEqual(n, exp["rankings_rows"])
        self.assertEqual(rows, n // 10)
        self.assertEqual((exp["scan_rows"], exp["scan_rank_sum"], exp["scan_url_crc_sum"]),
                         (rows, rank_sum, crc_sum))


if __name__ == "__main__":
    unittest.main()
