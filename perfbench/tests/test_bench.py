"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests

The generator test builds the JVM side (see build.py) and runs it in `gen`
mode, which starts no Spark session.
"""
import copy
import hashlib
import json
import os
import shutil
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import build  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


def op(kind, name, check, wall=1.0, items=1, traced=False, error=None):
    return {"kind": kind, "name": name, "wall_s": wall, "traced": traced, "warmup": False, "error": error,
            "check": check, "items": items}


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        for n in (21, 30, 57, 100, 199):
            value, pct = metrics.tail(list(range(1, n + 1)))
            self.assertEqual(n - value, 10, n)  # exactly ten samples beyond it
            self.assertAlmostEqual(pct, 100.0 * value / n)

    def test_capped_at_p95(self):
        value, pct = metrics.tail(list(range(1, 1001)))
        self.assertEqual((value, pct), (950, 95.0))
        value, pct = metrics.tail(list(range(1, 201)))
        self.assertEqual((value, pct), (190, 95.0))

    def test_too_few_samples_report_the_median(self):
        self.assertEqual(metrics.tail([5.0, 1.0, 3.0]), (3.0, 50.0))
        self.assertEqual(metrics.tail(list(range(1, 20))), (10, 50.0))
        self.assertEqual(metrics.tail(list(range(1, 21))), (10, 50.0))  # 10 beyond it


class ThroughputTest(unittest.TestCase):
    def test_repeated_names_count_once_at_their_median(self):
        ops = [op("query", "a", {}, wall=w) for w in (1.0, 9.0, 2.0)] + \
              [op("query", "b", {}, wall=w) for w in (3.0, 4.0, 30.0)]
        self.assertAlmostEqual(metrics.throughput(ops), 2 / (2.0 + 4.0))

    def test_distinct_names_are_work_over_summed_wall(self):
        ops = [op("etl", "run_%d" % k, {}, wall=w, items=100) for k, w in enumerate((1.0, 3.0))]
        self.assertAlmostEqual(metrics.throughput(ops), 200 / 4.0)


class CheckTest(unittest.TestCase):
    """A mutated expected value makes the failure count nonzero."""

    def assert_mutation_fails(self, workload, seed, ops, expected, mutate):
        raw = {"workload": workload, "seed": seed, "setup_s": [1.0], "ops": ops, "layers": {}}
        good = metrics.aggregate(raw, 0, expected)
        self.assertEqual((good["correct"], good["failed"]), (True, 0))
        bad_expected = copy.deepcopy(expected)
        mutate(bad_expected)
        bad = metrics.aggregate(raw, 0, bad_expected)
        self.assertFalse(bad["correct"])
        self.assertGreater(bad["failed"] / bad["attempted"], 0)

    def test_catalog_hash_and_rows(self):
        expected = metrics.load_expected()
        cat = expected["catalog"]
        names = sorted(n for n in cat["queries"] if n not in cat["rows_only"])[:3]
        ops = [op("query", n, dict(cat["queries"][n])) for n in names]

        def flip_hash(e):
            h = e["catalog"]["queries"][names[0]]["hash"]
            e["catalog"]["queries"][names[0]]["hash"] = h[:-1] + ("0" if h[-1] != "0" else "1")

        def bump_rows(e):
            e["catalog"]["queries"][names[1]]["rows"] += 1
        self.assert_mutation_fails("catalog", 1, ops, expected, flip_hash)
        self.assert_mutation_fails("catalog", 1, ops, expected, bump_rows)

    def test_catalog_rows_only_queries_ignore_the_hash(self):
        expected = {"catalog": {"queries": {"q": {"rows": 3, "hash": "aa"}}, "rows_only": ["q"]}}
        raw = {"workload": "catalog", "seed": 1, "setup_s": [1.0],
               "ops": [op("query", "q", {"rows": 3, "hash": "bb"})], "layers": {}}
        self.assertEqual(metrics.aggregate(raw, 0, expected)["failed"], 0)

    def test_lake_etl_counts(self):
        expected = metrics.load_expected()
        seed = 21
        want = expected["lake_etl"]["variants"][str(seed % metrics.VARIANTS)]
        raw_rows = expected["lake_etl"]["days"] * expected["lake_etl"]["rows_per_day"]
        ops = [op("etl", "run_0", dict(want, raw_rows=raw_rows), items=raw_rows)]

        def bump(e):
            e["lake_etl"]["variants"][str(seed % metrics.VARIANTS)]["silver_rows"] += 1

        def days(e):
            e["lake_etl"]["days"] += 1
        self.assert_mutation_fails("lake_etl", seed, ops, expected, bump)
        self.assert_mutation_fails("lake_etl", seed, ops, expected, days)

    def test_corpus_manifest(self):
        expected = metrics.load_expected()
        ops = [op("curate", "curate_0", {"manifest": expected["corpus_curate"]["variants"]["5"]})]

        def mutate(e):
            e["corpus_curate"]["variants"]["5"] = \
                e["corpus_curate"]["variants"]["5"].replace("(", "(1", 1)
        self.assert_mutation_fails("catalog", 5, ops, expected, mutate)

    def test_stream_sink_rows(self):
        raw = {"workload": "lake_etl", "seed": 1, "setup_s": [1.0], "layers": {},
               "ops": [op("batch", "batch_0", {"expected_rows": 10, "sink_rows": 10}),
                       op("batch", "batch_1", {"expected_rows": 10, "sink_rows": 9})]}
        r = metrics.aggregate(raw, 0, {})
        self.assertEqual((r["attempted"], r["failed"]), (2, 1))

    def test_failed_operation_counts(self):
        raw = {"workload": "lake_etl", "seed": 1, "setup_s": [1.0], "layers": {},
               "ops": [op("batch", "batch_0", {"expected_rows": 1, "sink_rows": 1}),
                       op("batch", "batch_1", {}, error="boom")]}
        self.assertEqual(metrics.aggregate(raw, 0, {})["failed"], 1)


class ContractTest(unittest.TestCase):
    def test_metric_lists_match_benchmark_json(self):
        spec = json.load(open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")))
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], metrics.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]], run.WORKLOADS)


class GeneratorTest(unittest.TestCase):
    """Generated inputs are byte-identical for a seed and differ across seeds."""

    @classmethod
    def setUpClass(cls):
        build.build()
        cls.tmp = os.path.join(build.BENCH, ".work", "test-gen")
        shutil.rmtree(cls.tmp, ignore_errors=True)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def digest(self, workload, seed, tag):
        d = os.path.join(self.tmp, "%s-%d-%s" % (workload, seed, tag))
        os.makedirs(d)
        code = run.jvm(["--mode", "gen", "--workload", workload, "--seed", str(seed),
                        "--work", d], d, os.path.join(d, "jvm.log"))
        self.assertEqual(code, 0, open(os.path.join(d, "jvm.log")).read()[-2000:])
        h = hashlib.sha256()
        root = os.path.join(d, "input")
        files = sorted(os.path.relpath(os.path.join(p, f), root)
                       for p, _, fs in os.walk(root) for f in fs)
        self.assertTrue(files)
        for rel in files:
            h.update(rel.encode())
            with open(os.path.join(root, rel), "rb") as f:
                h.update(f.read())
        return h.hexdigest()

    def test_byte_identical_per_seed(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                a = self.digest(w, 7, "a")
                self.assertEqual(a, self.digest(w, 7, "b"))
                self.assertNotEqual(a, self.digest(w, 8, "c"))


if __name__ == "__main__":
    unittest.main()
