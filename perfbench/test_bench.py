"""Tests of the benchmark itself, on tiny inputs.

    python3 -m unittest perfbench/test_bench.py

1. Every metric named in BENCHMARK.json is printed with its unit, for
   every workload, traced and untraced.
2. A deliberately wrong expectation is reported as a failed op, not a
   fast one: a wrong expected silver hash fails the ingest gate, and a
   dashboard page checked against a wrong truth counts as attempted and
   failed, the result is not correct, and no timing comes from it.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace, *extra):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "2", "--trace", str(trace), "--tiny", *extra],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, timeout=600)
    if out.returncode != 0:
        raise AssertionError(out.stderr.decode(errors="replace")[-3000:])
    return json.loads(out.stdout.decode().splitlines()[-1])


class MetricNames(unittest.TestCase):
    def check(self, result, specs):
        got = result["metrics"]
        self.assertEqual(set(got), {m["name"] for m in specs})
        for m in specs:
            self.assertEqual(got[m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(got[m["name"]]["value"], (int, float), m["name"])

    def test_every_metric_printed_with_unit(self):
        for w in [x["name"] for x in SPEC["workloads"]]:
            with self.subTest(workload=w):
                r = run(w, 0)
                self.assertTrue(r["correct"], r)
                self.assertEqual(r["failed"], 0)
                self.check(r, SPEC["end_to_end"])
                self.check(run(w, 1), SPEC["per_layer"])


class WrongExpectation(unittest.TestCase):
    def test_wrong_expected_hash_is_a_failed_op(self):
        # the silver table's hash is checked against a wrong expected hash
        r = run("ingest", 0, "--wrong-expect")
        self.assertFalse(r["correct"])
        self.assertEqual(r["failed"], 1)
        self.assertGreater(r["attempted"], r["failed"])

    def test_wrong_page_is_failed_not_fast(self):
        # every page is checked against a wrong location count
        r = run("dashboard", 0, "--wrong-expect")
        self.assertFalse(r["correct"])
        self.assertGreaterEqual(r["failed"], 1)
        self.assertEqual(r["attempted"], r["failed"])
        # no failed page is timed, so there is no page latency at all
        self.assertIsNone(r["metrics"]["op_p50_ms"]["value"])
        self.assertIsNone(r["metrics"]["throughput_per_s"]["value"])


if __name__ == "__main__":
    unittest.main()
