#!/usr/bin/env python3
"""Self-tests of the benchmark. Run from the repository root:

    python3 perfbench/test_perfbench.py            # all, about 3 minutes
    python3 perfbench/test_perfbench.py Inputs     # generators only, seconds

`Emitted` runs every workload briefly in both trace modes and checks the
result line carries exactly the metric names BENCHMARK.json declares.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen_lake  # noqa: E402
import gen_tables  # noqa: E402
import oracle  # noqa: E402


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def plan_text(seed, n, cycles):
    lake = gen_lake.Lake(seed, n)
    lake.plan_cycles(cycles)
    with tempfile.TemporaryDirectory(dir=os.path.join(BENCH, "out")) as d:
        path = os.path.join(d, "plan.tsv")
        gen_lake.write_plan(lake, path)
        with open(path) as f:
            return lake, f.read()


class Inputs(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        os.makedirs(os.path.join(BENCH, "out"), exist_ok=True)

    def test_lake_is_deterministic(self):
        a, plan_a = plan_text(7, 400, 6)
        b, plan_b = plan_text(7, 400, 6)
        self.assertEqual(a.initial, b.initial)  # keys, sizes, mtimes
        self.assertEqual(a.patterns, b.patterns)
        self.assertEqual(plan_a, plan_b)  # the mutation log and expectations
        c, plan_c = plan_text(8, 400, 6)
        self.assertNotEqual(a.initial, c.initial)
        self.assertNotEqual(plan_a, plan_c)

    def test_lake_patterns_use_braces_and_globstar(self):
        lake, _ = plan_text(3, 200, 0)
        self.assertTrue(any("{" in p and "," in p for p in lake.patterns))
        self.assertTrue(all(p.startswith("**/") for p in lake.patterns))

    def test_lake_expectations_chain(self):
        lake, _ = plan_text(5, 1000, 10)
        tracked, touched = lake.initial_tracked, 0
        for ops, (added, modified, deleted, unchanged) in lake.cycles:
            self.assertEqual(len(ops), 10)  # 1% of the objects
            self.assertEqual(unchanged + modified + deleted, tracked)
            tracked = unchanged + modified + added
            touched += added + modified + deleted
        self.assertGreater(touched, 0)

    def test_tables_match_the_stored_oracle(self):
        import run
        with open(os.path.join(BENCH, "expected.json")) as f:
            expected = json.load(f)
        self.assertEqual(expected["sf"], run.TABLE_SF)
        tables = gen_tables.build(run.TABLE_SF)
        self.assertEqual(gen_tables.fingerprint(tables), expected["fingerprint"])

    def test_digest_ignores_row_and_column_order(self):
        rows = [(1, "a", 0.5), (2, None, -0.0)]
        d = oracle.digest(["k", "s", "x"], rows)
        self.assertEqual(d, oracle.digest(["x", "k", "s"], [(r[2], r[0], r[1]) for r in rows[::-1]]))
        self.assertNotEqual(d, oracle.digest(["k", "s", "x"], [(1, "a", 0.5), (2, None, 0.0)]))


class Emitted(unittest.TestCase):
    def run_bench(self, workload, trace):
        out = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
             "--seed", "1", "--seconds", "1", "--trace", str(trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(out.returncode, 0, out.stderr[-2000:])
        return json.loads(out.stdout.strip().splitlines()[-1])

    def test_every_declared_metric_is_emitted(self):
        s = spec()
        for w in (w["name"] for w in s["workloads"]):
            for trace, group in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    r = self.run_bench(w, trace)
                    self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(r["correct"])
                    self.assertEqual(r["failed"], 0)
                    declared = {m["name"]: m["unit"] for m in s[group]}
                    self.assertEqual({k: v["unit"] for k, v in r["metrics"].items()}, declared)

    def test_fails_without_the_program(self):
        with tempfile.TemporaryDirectory(dir=os.path.join(BENCH, "out")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("out", "target", "__pycache__"))
            out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "lake_sync",
                                  "--seed", "1", "--seconds", "1", "--trace", "0"],
                                 cwd=d, capture_output=True, text=True, timeout=170)
            self.assertNotEqual(out.returncode, 0)
            self.assertEqual(out.stdout, "")


if __name__ == "__main__":
    unittest.main()
