"""Self-tests of the benchmark's own code (no JVM needed).

    python3 -m unittest discover -s pipebench/tests   (from the repository root)
"""

import hashlib
import json
import os
import re
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import lake  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import tables  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
SCRATCH = os.path.join(ROOT, ".bench_build", "selftest")


def tree_digest(root):
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def gen(self, module, name, seed, **sizes):
        out = os.path.join(SCRATCH, name)
        module.generate(out, seed, **sizes)
        return tree_digest(out)

    def test_lake_is_byte_identical_per_seed(self):
        a = self.gen(lake, "a", 7, n_locations=4, days=3)
        b = self.gen(lake, "b", 7, n_locations=4, days=3)
        c = self.gen(lake, "c", 8, n_locations=4, days=3)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_tables_are_byte_identical_per_seed(self):
        sizes = dict(n_events=200, n_orders=50, n_parts=20, n_docs=40, n_vecs=30)
        a = self.gen(tables, "a", 7, **sizes)
        b = self.gen(tables, "b", 7, **sizes)
        c = self.gen(tables, "c", 8, **sizes)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_lake_plants_every_rejected_line_kind(self):
        out = os.path.join(SCRATCH, "lake")
        m = lake.generate(out, 3, n_locations=4, days=3)
        for day in m["days"]:
            self.assertEqual(day["lines"] - day["data_rows"], 2 * len(day["files"]))
        part = os.path.join(out, m["days"][0]["files"][1])
        with open(part) as f:
            lines = f.read().split("\n")[:-1]
        self.assertIn("", lines)
        self.assertEqual(sum(1 for x in lines if x and not x.endswith("}")), 1)


class ArithmeticTest(unittest.TestCase):
    def span(self, start, end):
        return {"start_ms": start, "end_ms": end}

    def test_median(self):
        self.assertEqual(metrics.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(metrics.median([4.0, 1.0, 2.0, 3.0]), 2.5)

    def test_self_time_without_children_is_the_duration(self):
        self.assertEqual(metrics.self_time(self.span(0, 2000), []), 2.0)

    def test_self_time_counts_overlapping_children_once(self):
        kids = [self.span(100, 600), self.span(400, 900), self.span(1500, 1600)]
        self.assertAlmostEqual(metrics.self_time(self.span(0, 2000), kids), 1.1)

    def test_self_time_clips_children_to_the_span(self):
        kids = [self.span(-500, 500), self.span(1800, 2500), self.span(3000, 4000)]
        self.assertAlmostEqual(metrics.self_time(self.span(0, 2000), kids), 1.3)

    def test_binary_half_up_rounding_of_negative_halves(self):
        self.assertEqual(oracle.round_bin(-0.125, 2), -0.12)
        # an exact dyadic average rounds one way only
        self.assertEqual(oracle.acceptable(([-0.25, 0.0], 2)), {-0.12})

    def test_inexact_ties_accept_either_neighbour(self):
        # -15.125 C is 4.775 F, which no double holds: the sum may land on either side
        f = -15.125 * 9 / 5 + 32
        self.assertEqual(oracle.acceptable(([f, f, f], 2)), {4.77, 4.78})


class ChecksOracleTest(unittest.TestCase):
    KEY = "stg_measurements.sensor_parameter_key.relationships"

    def test_planted_count_passes(self):
        self.assertEqual(oracle.compare_checks({self.KEY: 36, "dim.unique": 0}, {self.KEY: 36}),
                         [])

    def test_wrong_or_unexpected_count_is_a_mismatch(self):
        self.assertEqual(len(oracle.compare_checks({self.KEY: 35}, {self.KEY: 36})), 1)
        self.assertEqual(len(oracle.compare_checks({self.KEY: 36, "dim.unique": 2},
                                                   {self.KEY: 36})), 1)

    def test_empty_or_renamed_suite_is_a_mismatch(self):
        self.assertEqual(len(oracle.compare_checks({}, {self.KEY: 36})), 1)
        self.assertEqual(len(oracle.compare_checks({self.KEY + "_v2": 36}, {self.KEY: 36})), 2)


class FailedOpTest(unittest.TestCase):
    def doc(self, ops):
        return {"setup_s": 2.5, "rss_hwm_kb": 2048, "ops": ops}

    def test_failed_op_is_counted_and_never_a_sample(self):
        ops = [{"ok": True, "wall_s": 10.0, "cpu_s": 20.0, "bytes_written": 5, "lake_bytes": 10},
               {"ok": False, "wall_s": 0.01, "cpu_s": 0.01, "bytes_written": 0},
               {"ok": True, "wall_s": 12.0, "cpu_s": 22.0, "bytes_written": 5, "lake_bytes": 10}]
        values, attempted, failed = metrics.timed_metrics(self.doc(ops))
        self.assertEqual((attempted, failed), (3, 1))
        self.assertEqual(values["op_s"], 11.0)
        self.assertEqual(values["cpu_s"], 21.0)
        self.assertEqual(values["setup_s"], 2.5)

    def test_run_with_only_failures_reports_no_latency(self):
        values, attempted, failed = metrics.timed_metrics(
            self.doc([{"ok": False, "wall_s": 0.01, "cpu_s": 0.0, "bytes_written": 0}]))
        self.assertEqual((attempted, failed), (1, 1))
        self.assertNotIn("op_s", values)


class NamesTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_names_and_units_are_well_formed(self):
        names = ([w["name"] for w in self.bench["workloads"]] +
                 [m["name"] for m in self.bench["end_to_end"] + self.bench["per_layer"]])
        for n in names:
            self.assertRegex(n, NAME)
        self.assertEqual(len(names), len(set(names)))
        for m in self.bench["end_to_end"] + self.bench["per_layer"]:
            self.assertRegex(m["unit"], UNIT)

    def test_benchmark_json_matches_the_catalogues(self):
        self.assertEqual([w["name"] for w in self.bench["workloads"]], run.WORKLOADS)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in self.bench["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["per_layer"]],
                         metrics.per_layer_catalogue())


if __name__ == "__main__":
    unittest.main()
