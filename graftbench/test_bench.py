"""The benchmark's own tests.

  python3 -m unittest discover -s graftbench -p 'test_*.py'

The smoke test builds graft and runs every workload end to end at a tiny
size; it takes several minutes. Set GRAFTBENCH_SKIP_SMOKE=1 to skip it.
"""
import filecmp
import json
import os
import random
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen_tables  # noqa: E402
import gen_xml  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files,
                                           shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d))
        for d in cmp.common_dirs)


class SeedTest(unittest.TestCase):
    def corpus(self, seed):
        d = tempfile.mkdtemp(dir=self.tmp)
        params = run.ingest_inputs(seed, d)
        return d, params

    def setUp(self):
        self._tmp = tempfile.TemporaryDirectory()
        self.tmp = self._tmp.name
        self.sizes = dict(run.SIZES)
        run.SIZES.update(run.SMOKE_SIZES)

    def tearDown(self):
        run.SIZES.clear()
        run.SIZES.update(self.sizes)
        self._tmp.cleanup()

    def test_corpus_is_a_function_of_the_seed(self):
        a, pa = self.corpus(7)
        b, pb = self.corpus(7)
        c, _ = self.corpus(8)
        self.assertTrue(same_tree(a, b))
        self.assertEqual({k: v for k, v in pa.items() if "/" not in str(v)},
                         {k: v for k, v in pb.items() if "/" not in str(v)})
        self.assertFalse(same_tree(a, c))

    def test_tables_are_a_function_of_the_seed(self):
        a, b, c = (os.path.join(self.tmp, x) for x in "abc")
        gen_tables.write(a, 3, 0.001)
        gen_tables.write(b, 3, 0.001)
        gen_tables.write(c, 4, 0.001)
        self.assertTrue(same_tree(a, b))
        self.assertFalse(same_tree(a, c))

    def test_query_order_is_a_function_of_the_seed(self):
        catalog = [{"name": n} for n in run.SURFACE]
        s1 = run.query_list(catalog, 1)
        self.assertEqual(s1, run.query_list(catalog, 1))
        self.assertNotEqual(s1, run.query_list(catalog, 2))
        self.assertEqual(sorted(s1), sorted(run.SURFACE))

    def test_surface_covers_the_large_operator_modules(self):
        catalog = os.path.join(run.BUILD, "catalog.json")
        if not os.path.exists(catalog):
            self.skipTest("no build yet")
        with open(catalog) as f:
            module = {q["name"]: q["module"] for q in json.load(f)}
        sizes = {}
        for m in module.values():
            sizes[m] = sizes.get(m, 0) + 1
        largest = sorted(sizes, key=lambda m: -sizes[m])
        self.assertEqual(sorted(module[n] for n in run.SURFACE),
                         sorted(largest[:len(run.SURFACE)]))

    def test_ground_truth_counts_planted_invalid_files(self):
        _, p = self.corpus(5)
        s = run.SIZES["ingest"]
        self.assertEqual(p["invalid_files"], s["xsd_bad"] + s["truncated"])
        self.assertEqual(p["valid_records"],
                         (s["files"] - p["invalid_files"]) * s["records"])


class PercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(run.percentile(list(range(90)), 0.9))  # 9 beyond
        self.assertAlmostEqual(run.percentile(list(range(95)), 0.9), 84.6)
        self.assertIsNone(run.percentile([1.0] * 200, 0.9))  # ties: 0 beyond
        self.assertIsNone(run.percentile([], 0.5))

    def test_value(self):
        self.assertAlmostEqual(run.percentile(list(range(101)), 0.9), 90.0)
        self.assertAlmostEqual(run.percentile(list(range(1, 21)), 0.5), 10.5)


def fake_result(traced):
    def op(i, cold, tr):
        layers = {m["name"]: 1.0 for m in SPEC["per_layer"]} if tr else {}
        return {"index": i, "cold": cold, "traced": tr, "wall_s": 2.0 + i,
                "requests": [0.5, 1.5], "errors": [], "layers": layers}
    ops = [op(0, True, traced)] + [op(i, False, traced and i in (2, 3))
                                   for i in range(1, 5)]
    return {"setup_s": 3.0, "input_bytes": 2_000_000,
            "peak_rss_mb": 900.0, "calib_s": [0.1, 0.1], "load1": [1.0, 2.0],
            "ops": ops}


class MetricNamesTest(unittest.TestCase):
    def test_end_to_end_names_match_benchmark_json(self):
        got = run.end_to_end(fake_result(False))
        self.assertEqual(sorted(got), sorted(m["name"] for m in SPEC["end_to_end"]))
        self.assertTrue(all(v > 0 for v in got.values()))

    def test_per_layer_names_match_benchmark_json(self):
        names = [m["name"] for m in SPEC["per_layer"]]
        self.assertEqual(list(run.per_layer(fake_result(True), names)), names)

    def test_workloads_are_the_runnable_ones(self):
        self.assertEqual(sorted(w["name"] for w in SPEC["workloads"]),
                         sorted(run.SIZES))


@unittest.skipIf(os.environ.get("GRAFTBENCH_SKIP_SMOKE"), "smoke skipped")
class SmokeTest(unittest.TestCase):
    """Every workload, end to end, at the smoke size."""

    def run_bench(self, workload, trace):
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             workload, "--seed", "11", "--seconds", "1", "--trace",
             str(trace), "--smoke"], cwd=ROOT, capture_output=True, text=True,
            timeout=900)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        last = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(sorted(last), ["attempted", "correct", "failed",
                                        "metrics"])
        self.assertTrue(last["correct"], r.stderr[-3000:])
        self.assertEqual(last["failed"], 0)
        self.assertGreaterEqual(last["attempted"], 2)
        return last["metrics"]

    def test_all_workloads(self):
        names = sorted(m["name"] for m in SPEC["end_to_end"])
        for w in sorted(run.SIZES):
            with self.subTest(workload=w):
                self.assertEqual(sorted(self.run_bench(w, 0)), names)

    def test_traced_run(self):
        names = [m["name"] for m in SPEC["per_layer"]]
        for w in sorted(run.SIZES):
            with self.subTest(workload=w):
                got = self.run_bench(w, 1)
                self.assertEqual(list(got), names)
                self.assertGreater(got["op.jobs"]["value"], 0)
                self.assertGreater(got["trace.span_share"]["value"], 0.5)


if __name__ == "__main__":
    unittest.main()
