"""Tests of the benchmark itself (not of the engine).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import re
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def out(self, name):
        return os.path.join(self.tmp, name)

    def test_same_seed_gives_identical_files(self):
        for w in run.WORKLOADS:
            gen.generate(w, 11, self.out("a"))
            gen.generate(w, 11, self.out("b"))
            self.assertEqual(gen.digest(self.out("a")), gen.digest(self.out("b")), w)

    def test_other_seed_gives_other_churn(self):
        gen.generate("refresh_cycle", 11, self.out("a"))
        gen.generate("refresh_cycle", 12, self.out("b"))
        with open(self.out("a") + "/manifest.json") as f:
            a = json.load(f)["cycles"]
        with open(self.out("b") + "/manifest.json") as f:
            b = json.load(f)["cycles"]
        self.assertNotEqual([c["updated"] + c["deleted"] for c in a],
                            [c["updated"] + c["deleted"] for c in b])

    def test_churn_and_sizes(self):
        sizes = gen.generate("refresh_cycle", 3, self.out("a"))
        self.assertEqual(sizes["documents"], gen.REFRESH_DOCS)
        self.assertEqual(sizes["changed_per_cycle"],
                         [round(gen.CHURN * gen.REFRESH_DOCS)] * gen.REFRESH_CYCLES)


class TailTest(unittest.TestCase):
    def beyond(self, xs, value):
        return sum(1 for x in xs if x > value)

    def test_percentile_follows_sample_count(self):
        for n, pct in ((20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
                       (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0)):
            xs = [float(i) for i in range(n)]
            p, v, count = run.tail(xs)
            self.assertEqual((p, count), (pct, n), n)
            self.assertGreaterEqual(self.beyond(xs, v), 10, n)

    def test_highest_qualifying_percentile(self):
        xs = [float(i) for i in range(40)]
        p, v, _ = run.tail(xs)
        self.assertEqual(self.beyond(xs, v), 10)
        self.assertEqual((p, v), (75.0, 29.0))

    def test_too_few_samples(self):
        self.assertIsNone(run.tail([1.0] * 19))
        self.assertIsNone(run.tail([]))


class DefinitionTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            cls.bench = json.load(f)

    def test_names_and_units_are_well_formed(self):
        b = self.bench
        names = [w["name"] for w in b["workloads"]] + \
            [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
        for m in b["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)

    def test_definition_matches_the_runner(self):
        b = self.bench
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]},
                         run.PER_LAYER)

    def test_every_metric_is_printed_with_its_unit(self):
        for table in (run.END_TO_END, run.PER_LAYER):
            report = {k: (1.5, u) for k, u in table.items()}
            lines = run.render(report, 3, [])
            result = json.loads(lines[-1])
            self.assertEqual(set(result), {"correct", "attempted", "failed",
                                           "metrics"})
            for k, u in table.items():
                self.assertEqual(result["metrics"][k], {"value": 1.5, "unit": u})
                self.assertTrue(any(ln.split() == [k, "1.500000", u]
                                    for ln in lines[:-1]), k)


if __name__ == "__main__":
    unittest.main()
