"""Self-tests of the benchmark harness.

Run from the repository root:  python3 -m unittest discover -s perfbench/tests -v

They drive perfbench/run.py on the tiny sf0.001 corpus (a few seconds of
loop per run), so the first test in a fresh checkout also pays the build.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
RUN = os.path.join(BENCH, "run.py")
WORKLOADS = ("query_mix", "table_lifecycle", "corpus_admit")


def run(workload, seed=1, trace=0, extra=()):
    """(exit code, report object or None, result object or None, stderr)"""
    p = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", "2", "--trace", str(trace), "--sf", "0.001", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.splitlines()
    report = [json.loads(l.split(" ", 1)[1]) for l in lines
              if l.startswith("perfbench-report ")]
    result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    return p.returncode, (report[0] if report else None), result, p.stderr


def declared(section):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


class EveryMetric(unittest.TestCase):
    def test_each_workload_emits_every_metric_with_its_unit(self):
        for w in WORKLOADS:
            for trace, section in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    code, _, res, err = run(w, trace=trace)
                    self.assertEqual(code, 0, err[-2000:])
                    self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(res["correct"], err[-2000:])
                    self.assertGreaterEqual(res["attempted"], 1)
                    self.assertEqual(res["failed"], 0)
                    got = {k: v["unit"] for k, v in res["metrics"].items()}
                    self.assertEqual(got, declared(section))
                    for k, v in res["metrics"].items():
                        self.assertIsInstance(v["value"], (int, float), k)


class Seeds(unittest.TestCase):
    def test_seed_changes_the_op_stream_not_the_metric_set(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                _, rep1, res1, _ = run(w, seed=1)
                _, rep2, res2, _ = run(w, seed=2)
                self.assertNotEqual(rep1["env"]["op_stream_digest"],
                                    rep2["env"]["op_stream_digest"])
                self.assertEqual(set(res1["metrics"]), set(res2["metrics"]))


class Checker(unittest.TestCase):
    def test_injected_wrong_result_is_a_failed_op(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                code, _, res, err = run(w, extra=("--inject-wrong-at", "0"))
                self.assertEqual(code, 0, err[-2000:])
                self.assertFalse(res["correct"])
                self.assertEqual(res["failed"], 1)


class Standalone(unittest.TestCase):
    def test_fails_without_the_engine_sources(self):
        d = tempfile.mkdtemp()
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", "query_mix",
                 "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
