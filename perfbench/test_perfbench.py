"""The benchmark's own tests: python3 -m unittest discover -s perfbench"""
import csv
import filecmp
import json
import os
import tempfile
import unittest

import pyarrow.parquet as pq

import gen
import metrics

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")


def _column_sum(path, col):
    with open(path) as f:
        return sum(int(r[col]) for r in csv.DictReader(f))


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.a = os.path.join(cls.tmp.name, "a")
        cls.b = os.path.join(cls.tmp.name, "b")
        cls.c = os.path.join(cls.tmp.name, "c")
        cls.cells = gen.generate("ipf_alloc", 7, cls.a)
        gen.generate("ipf_alloc", 7, cls.b)
        gen.generate("ipf_alloc", 8, cls.c)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_gives_byte_identical_inputs(self):
        names = sorted(os.listdir(self.a))
        self.assertEqual(names, sorted(os.listdir(self.b)))
        match, mismatch, errors = filecmp.cmpfiles(self.a, self.b, names, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_another_seed_gives_other_inputs(self):
        _, mismatch, _ = filecmp.cmpfiles(self.a, self.c, ["keywords.csv", "documents.parquet"],
                                          shallow=False)
        self.assertEqual(mismatch, ["keywords.csv", "documents.parquet"])

    def test_trio_marginal_totals_are_equal(self):
        kw, hr = os.path.join(self.a, "keywords.csv"), os.path.join(self.a, "hours.csv")
        self.assertEqual(_column_sum(kw, "TotalCost"), _column_sum(hr, "HourlyCost"))
        self.assertEqual(_column_sum(kw, "TotalClicks"), _column_sum(hr, "HourlyClicks"))

    def test_wide_marginal_totals_are_equal(self):
        x = pq.read_table(os.path.join(self.a, "wide_x.parquet")).column("value").to_pylist()
        y = pq.read_table(os.path.join(self.a, "wide_y.parquet")).column("value").to_pylist()
        self.assertAlmostEqual(sum(x) / sum(y), 1.0, places=12)

    def test_stated_sizes(self):
        seed = pq.read_table(os.path.join(self.a, "wide_seed.parquet"))
        self.assertEqual(self.cells["wide_cells"], seed.num_rows)
        density = seed.num_rows / (gen.WIDE_ROWS * gen.WIDE_COLS)
        self.assertAlmostEqual(density, gen.WIDE_DENSITY, delta=0.01)
        docs = pq.read_table(os.path.join(self.a, "documents.parquet")).column("text").to_pylist()
        self.assertEqual(sum(t.endswith(" dup") for t in docs),
                         round(len(docs) * gen.DOC_NEAR_DUP))


class MetricsTest(unittest.TestCase):
    def test_metric_names_are_well_formed(self):
        names = [n for n, _ in metrics.per_layer_names() + metrics.END_TO_END]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, metrics.NAME_RE)

    def test_benchmark_json_lists_exactly_these_metrics(self):
        with open(BENCHMARK_JSON) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]],
                         metrics.per_layer_names())
        self.assertEqual(sorted(w["name"] for w in b["workloads"]), sorted(gen.SIZES))

    def test_percentile_needs_ten_samples_beyond_it(self):
        self.assertIsNone(metrics.percentile(list(range(19)), 0.50))
        self.assertEqual(metrics.percentile(list(range(20)), 0.50), 9)
        self.assertIsNone(metrics.percentile(list(range(99)), 0.90))
        self.assertEqual(metrics.percentile(list(range(100)), 0.90), 89)

    def test_every_per_layer_metric_is_a_number(self):
        call = dict(traced=True, group="io.write", name="append_0", commit=True,
                    wall_s=0.2, jobs=1, tasks=4, cpu_s=0.1, gc_s=0.0, run_s=0.3,
                    shuffle_mb=0.0, spill_mb=0.0, plan_s=0.01, batches=0, nojob_s=0.1,
                    commit_s=0.05)
        calls = []
        for p in (1, 3):
            for i in range(60):
                c = dict(call, commit_s=0.01 * i)
                c["pass"] = p
                calls.append(c)
        result = {"cores": 4, "task_failures": 0, "calls": calls, "passes": [
            {"pass": p, "traced": p % 2 == 1, "wall_s": 5.0 + p, "cpu_s": 9.0, "heap_mb": 80.0}
            for p in range(5)]}
        values = metrics.per_layer(result)
        self.assertEqual(list(values), [n for n, _ in metrics.per_layer_names()])
        for v in values.values():
            self.assertIsInstance(v["value"], (int, float))
        self.assertAlmostEqual(values["io.write.wall_s"]["value"], 12.0)
        self.assertAlmostEqual(values["tracing_overhead_s"]["value"], -1.0)


if __name__ == "__main__":
    unittest.main()
