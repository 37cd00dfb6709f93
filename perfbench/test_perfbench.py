"""The benchmark's own tests: a tiny-input smoke run of each workload, and
one corrupted output per checker that the checks must catch.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Each test runs the real command (run.py) with --tiny, which shrinks the
generated inputs; the first one also builds the program.
"""
import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402


def bench(workload, inject="", trace=0):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "3", "--seconds", "2", "--trace", str(trace),
           "--tiny"] + (["--inject", inject] if inject else [])
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"{cmd} failed:\n{p.stdout}\n{p.stderr}")
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


class Smoke(unittest.TestCase):
    def check_result(self, workload):
        res, out = bench(workload)
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], out)
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(set(res["metrics"]), {n for n, _ in run.E2E})
        for name, m in res["metrics"].items():
            self.assertGreater(m["value"], 0, name)
        self.assertIn("error_rate", out)

    def test_changelog_stream(self):
        self.check_result("changelog_stream")

    def test_query_pipeline(self):
        self.check_result("query_pipeline")

    def test_traced_run_prints_every_per_layer_metric(self):
        bench("changelog_stream")  # the untraced run the overhead uses
        res, out = bench("changelog_stream", trace=1)
        self.assertEqual(set(res["metrics"]), {n for n, _, _ in run.PER_LAYER})
        self.assertGreater(res["metrics"]["sink.rows_landed"]["value"], 0)
        self.assertIn("self time by span", out)
        self.assertIn("tracing overhead", out)
        self.assertGreater(res["metrics"]["overhead.latency_p50_ms"]["value"], 0)


class CheckersFire(unittest.TestCase):
    def assert_caught(self, workload, inject, op):
        res, out = bench(workload, inject)
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"], 0)
        self.assertIn(f"FAILED {op}", out)

    def test_flipped_landed_sign(self):
        self.assert_caught("changelog_stream", "flip_sign", "drain")

    def test_dropped_query_dump_row(self):
        self.assert_caught("query_pipeline", "drop_dump_row",
                           f"oracle:{run.QUERY_KEYS[0]}")

    def test_resurrected_deduplicated_doc(self):
        self.assert_caught("query_pipeline", "resurrect_doc", "pipeline_outputs")


class Declaration(unittest.TestCase):
    def test_benchmark_json_matches_the_runner(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], run.E2E)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                         run.PER_LAYER)

    def test_query_keys_match_the_harness(self):
        with open(os.path.join(HERE, "src", "graftbench", "QueryMix.scala")) as f:
            block = re.search(r"val Keys: Seq\[String\] = Seq\((.*?)\)", f.read(), re.S)
        self.assertEqual(re.findall(r'"(\w+)"', block.group(1)), run.QUERY_KEYS)


if __name__ == "__main__":
    unittest.main()
