"""Self-checks of the benchmark itself.

    python3 perfbench/selftest.py           # rules + frame round-trip
    python3 perfbench/selftest.py --smoke   # also both workloads, small

Covers the metric-name and unit charsets of BENCHMARK.json, the
percentile reporting rule and the generator's frames round-tripping
through the repo's four parsers (both in `SelfCheck.scala`), and, with
--smoke, a shrunken end-to-end run of every workload, untraced and
traced, checking each prints every metric.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402

SMOKE = "--smoke" in sys.argv


class Rules(unittest.TestCase):
    def test_spread(self):
        self.assertAlmostEqual(stats.spread([10] * 10), 0.0)
        self.assertGreater(stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]), 0.5)

    def test_charsets(self):
        self.assertTrue(stats.valid_name("stream.pgoutput.replay_s"))
        self.assertTrue(stats.valid_name("9lives"))
        self.assertFalse(stats.valid_name("_x"))
        self.assertFalse(stats.valid_name("a b"))
        self.assertFalse(stats.valid_name("x" * 65))
        self.assertTrue(stats.valid_unit("1/s"))
        self.assertTrue(stats.valid_unit("%"))
        self.assertFalse(stats.valid_unit("rows per s"))

    def test_benchmark_json(self):
        with open("BENCHMARK.json") as fh:
            b = json.load(fh)
        self.assertEqual(set(b), {"command", "paths", "run_seconds",
                                  "workloads", "end_to_end", "per_layer"})
        names = [w["name"] for w in b["workloads"]]
        names += [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(stats.valid_name(n), n)
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertTrue(stats.valid_unit(m["unit"]), m)
            self.assertIn(m["better"], ("higher", "lower"))
        for m in b["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(len(setup), 1)
        self.assertEqual(setup[0]["bound"],
                         max(m["bound"] for m in b["end_to_end"]))
        for w in b["workloads"]:
            self.assertLessEqual(len(w["why"]), 200)
            self.assertNotIn("\n", w["why"])


class SelfCheck(unittest.TestCase):
    def test_percentile_rule_and_frame_round_trip(self):
        cp = build.build()
        r = subprocess.run(["java", "-Xmx1g", "-cp", cp, "perfbench.SelfCheck",
                            "11"], capture_output=True, text=True, timeout=170)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        self.assertIn("roundtrip ok", r.stdout)


@unittest.skipUnless(SMOKE, "pass --smoke to run the workloads")
class Smoke(unittest.TestCase):
    def run_one(self, workload, trace):
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             workload, "--seed", "3", "--seconds", "3", "--trace", str(trace),
             "--smoke"], capture_output=True, text=True, timeout=400)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        out = json.loads(r.stdout.strip().splitlines()[-1])
        with open("BENCHMARK.json") as fh:
            b = json.load(fh)
        kind = "per_layer" if trace else "end_to_end"
        self.assertTrue(out["correct"])
        self.assertEqual(set(out["metrics"]), {m["name"] for m in b[kind]})
        return out

    def test_workloads(self):
        for w in ("cdc", "analytics"):
            for trace in (0, 1):
                with self.subTest(workload=w, trace=trace):
                    self.run_one(w, trace)


if __name__ == "__main__":
    sys.argv = [a for a in sys.argv if a != "--smoke"]
    unittest.main()
