"""Smoke test of the benchmark: every workload once at the tiny size with the
oracle on, the traced mode once, the fixture determinism check, and the
refusal to run without the library sources.

    python3 -m unittest discover -s perfbench/test -v

Takes a few minutes: each run starts Spark.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.dont_write_bytecode = True
sys.path.insert(0, BENCH)
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def bench(workload, trace):
    r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                        "--workload", workload, "--seed", "7", "--seconds", "2",
                        "--trace", trace, "--size", "tiny"],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    return r, r.stdout.strip().splitlines()


class Smoke(unittest.TestCase):

    def check_run(self, workload, trace, declared, prefix):
        r, lines = bench(workload, trace)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], [l for l in lines if l.startswith("FAILED")])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        got = result["metrics"]
        self.assertEqual(set(got), {m["name"] for m in declared})
        for m in declared:
            self.assertEqual(got[m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(got[m["name"]]["value"], (int, float), m["name"])
            printed = [l for l in lines if l.startswith("%s %s " % (prefix, m["name"]))]
            self.assertEqual(len(printed), 1, m["name"])
            self.assertTrue(printed[0].endswith(" " + m["unit"]), printed[0])
        return lines

    def test_workloads_untraced(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                lines = self.check_run(w["name"], "0", SPEC["end_to_end"], "metric")
                self.assertTrue(any(l.startswith("fixture ") for l in lines))
                self.assertTrue(any(l.startswith("calibration ") for l in lines))

    def test_traced_run(self):
        lines = self.check_run(SPEC["workloads"][0]["name"], "1", SPEC["per_layer"], "layer")
        self.assertTrue(any(l.startswith("layer trace.overhead_pct ") for l in lines))

    def test_fixture_is_deterministic(self):
        build = run.build
        build.build()
        r = subprocess.run(["java", "-XX:-UsePerfData", "-cp", build.classpath(), "graft.bench.Main",
                            "--check-fixture", "--seed", "7", "--size", "bench"],
                           cwd=ROOT, capture_output=True, text=True, timeout=300)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-2000:])
        self.assertIn("fixture check: PASS", r.stdout)

    def test_refuses_without_library_sources(self):
        scratch = os.path.dirname(run.build.out_dir())
        os.makedirs(scratch, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=scratch) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "search",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=170)
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn('"correct"', r.stdout)


if __name__ == "__main__":
    unittest.main()
