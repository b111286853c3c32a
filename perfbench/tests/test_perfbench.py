"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests -v

The smoke tests build the engine (once per source state) and run each
workload on tiny inputs, so they take a few minutes.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for w in run.WORKLOADS:
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                    tempfile.TemporaryDirectory() as c:
                self.assertEqual(gen.generate(w, 7, a, tiny=True), gen.generate(w, 7, b, tiny=True))
                self.assertNotEqual(gen.generate(w, 7, a, tiny=True), gen.generate(w, 8, c, tiny=True))

    def test_planted_rates(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate("daily_etl", 3, d)
            with open(os.path.join(d, "meta.json")) as f:
                runs = json.load(f)["runs"]
        for i, r in enumerate(runs):
            n, s = r["rates"]["events"], r["summary"]
            self.assertEqual(s["events_quarantined"], r["rates"]["blank"])
            self.assertEqual(s["events_validated"] + s["events_quarantined"], n)
            self.assertAlmostEqual(r["rates"]["missing_desc"] / n, gen.MISSING_DESC, delta=0.5 / n)
            if i > 0:
                # every valid re-scrape is an update; every other valid row is new
                self.assertEqual(s["events_created"],
                                 s["events_validated"] - r["rates"]["rescraped"])
                self.assertAlmostEqual(r["rates"]["rescraped"] / n, gen.OVERLAP, delta=0.05)


class NamesTest(unittest.TestCase):
    def test_workloads_match_spec(self):
        self.assertEqual(list(run.WORKLOADS), [w["name"] for w in SPEC["workloads"]])


def bench(workload, trace):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", "5", "--seconds", "2", "--trace", str(trace), "--tiny"],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(p.stderr[-2000:])
    return json.loads(p.stdout.strip().splitlines()[-1])


class SmokeTest(unittest.TestCase):
    def check(self, workload):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = bench(workload, trace)
            self.assertTrue(res["correct"], res)
            self.assertEqual(res["failed"], 0)
            self.assertGreaterEqual(res["attempted"], 1)
            self.assertEqual(sorted(res["metrics"]), sorted(m["name"] for m in SPEC[key]))
            for m in SPEC[key]:
                self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"])

    def test_daily_etl(self):
        self.check("daily_etl")

    def test_serve_reads(self):
        self.check("serve_reads")


if __name__ == "__main__":
    unittest.main()
