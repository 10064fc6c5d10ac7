"""The benchmark's own tests: input determinism, the order statistics and
the metric names.

    python3 perfbench/test_perfbench.py
"""
import hashlib
import json
import os
import re
import shutil
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

SCRATCH = os.path.join(ROOT, ".bench_build", "perfbench", "test")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def tree_digest(d):
    h = hashlib.sha256()
    for f in sorted(os.listdir(d)):
        h.update(f.encode())
        with open(os.path.join(d, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


class GeneratedInputs(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def digest(self, workload, seed, tag):
        out = os.path.join(SCRATCH, f"{workload}-{seed}-{tag}")
        gen.generate(workload, seed, out)
        return tree_digest(out)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for workload in sorted(gen.GENERATORS):
            with self.subTest(workload=workload):
                a = self.digest(workload, 7, "a")
                self.assertEqual(a, self.digest(workload, 7, "b"))
                self.assertNotEqual(a, self.digest(workload, 8, "a"))

    def test_planted_exact_groups_are_identical_texts(self):
        import pyarrow.parquet as pq
        out = os.path.join(SCRATCH, "corpus")
        gen.generate("llm_curate", 3, out)
        texts = pq.read_table(os.path.join(out, "documents.parquet"))["text"].to_pylist()
        with open(os.path.join(out, "groups.json")) as f:
            groups = json.load(f)["exact_groups"]
        self.assertTrue(groups)
        members = [m for g in groups for m in g]
        self.assertEqual(len(members), len(set(members)))
        for g in groups:
            self.assertGreaterEqual(len(g), 2)
            self.assertEqual(len({texts[m] for m in g}), 1)
            self.assertEqual(sum(t == texts[g[0]] for t in texts), len(g))


class OrderStatistics(unittest.TestCase):
    def test_percentile_matches_inclusive_quantiles(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0]
        q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
        self.assertAlmostEqual(stats.percentile(xs, 25), q1)
        self.assertAlmostEqual(stats.median(xs), q2)
        self.assertAlmostEqual(stats.percentile(xs, 75), q3)
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 100), 9.0)
        self.assertEqual(stats.percentile([4.0], 90), 4.0)

    def test_tail_keeps_ten_samples_beyond(self):
        cases = {39: None, 40: 75.0, 99: 75.0, 100: 90.0, 199: 90.0,
                 200: 95.0, 1000: 99.0, 10000: 99.9}
        for n, want in cases.items():
            with self.subTest(n=n):
                self.assertEqual(stats.tail_percentile(n), want)
                if want is not None:
                    self.assertGreaterEqual(round(n * (100 - want) / 100, 9), 10)

    def test_summary_reports_count_quartiles_and_tail(self):
        s = stats.summary([float(i) for i in range(1, 101)])
        self.assertEqual(s["n"], 100)
        self.assertEqual(s["tail_pct"], 90.0)
        self.assertAlmostEqual(s["median"], 50.5)
        self.assertNotIn("tail", stats.summary([1.0, 2.0, 3.0]))


class MetricNames(unittest.TestCase):
    def test_benchmark_json_names_and_units(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        names = [w["name"] for w in spec["workloads"]]
        names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for m in spec["end_to_end"] + spec["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]),
                         sorted(gen.GENERATORS))
        setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(max(m["bound"] for m in spec["end_to_end"]),
                         setup[0]["bound"])


if __name__ == "__main__":
    unittest.main()
