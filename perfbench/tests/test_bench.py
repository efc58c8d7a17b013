"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests        (from the repository root)

The fast tests cover the statistics, span nesting and comparison rules.
The two end-to-end tests run one short curate workload each with an
injected fault and check that the fault is reported rather than timed:
a query that throws counts as failed and leaves no timing sample, and a
wrong result makes the command exit non-zero.
"""
import json
import os
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import compare  # noqa: E402
import run  # noqa: E402


class Statistics(unittest.TestCase):
    def test_percentile_interpolates(self):
        self.assertEqual(run.pct([4, 1, 3, 2], 50), 2.5)
        self.assertEqual(run.pct([1, 2, 3, 4, 5], 90), 4.6)
        self.assertEqual(run.pct([7], 99), 7)

    def test_failed_operations_leave_the_timing_samples(self):
        rec = {"input_rows": 0, "samples": [
            {"name": "a", "pass": 0, "wall_ms": 1000.0, "build_ms": 1.0},
            {"name": "b", "pass": 0, "wall_ms": 0.0, "build_ms": 0.0, "error": "boom"},
            {"name": "a", "pass": 1, "wall_ms": 3000.0, "build_ms": 1.0},
            {"name": "b", "pass": 1, "wall_ms": 2000.0, "build_ms": 1.0}]}
        m = run.op_metrics("curate", rec)
        self.assertEqual(m["latency_p50_s"], (2.0, "s", 3))
        # the pass holding the failure is not a complete pass
        self.assertEqual(m["pass_s"], (5.0, "s", 1))


class Spans(unittest.TestCase):
    def test_nesting_and_self_time(self):
        spans = run.nest_spans([
            {"trace": "q#0", "name": "op", "start_ms": 0, "end_ms": 100},
            {"trace": "q#0", "name": "build", "start_ms": 0, "end_ms": 40},
            {"trace": "", "name": "analysis", "start_ms": 5, "end_ms": 15},
            {"trace": "", "name": "job", "start_ms": 50, "end_ms": 90},
        ])
        self.assertEqual([s["parent"] for s in spans], [None, 0, 1, 0])
        self.assertEqual(spans[3]["trace"], "q#0")
        t = run.self_times(spans)
        self.assertEqual(t["op"], [1, 100, 20])
        self.assertEqual(t["build"], [1, 40, 30])


class Compare(unittest.TestCase):
    SPEC = {"end_to_end": [{"name": "latency_p50_s", "unit": "s", "better": "lower", "bound": 0.1}]}

    @staticmethod
    def runs(values):
        return {("curate", s): {"latency_p50_s": v} for s, v in enumerate(values)}

    def test_gain_needs_nine_of_ten_pairs_and_a_gap_beyond_the_parent_spread(self):
        parent = self.runs([1.00, 1.01, 0.99, 1.02, 0.98, 1.00, 1.01, 0.99, 1.00, 1.00])
        row = compare.compare(parent, self.runs([0.80] * 10), self.SPEC)[0]
        self.assertTrue(row[7])
        self.assertEqual(row[8], "ok")
        row = compare.compare(parent, self.runs([0.80] * 8 + [1.2, 1.2]), self.SPEC)[0]
        self.assertFalse(row[7])

    def test_regression_beyond_the_bound(self):
        parent = self.runs([1.0] * 10)
        self.assertEqual(compare.compare(parent, self.runs([1.2] * 10), self.SPEC)[0][8], "REGRESSED")
        self.assertEqual(compare.compare(parent, self.runs([1.05] * 10), self.SPEC)[0][8], "ok")

    def test_wide_spread_is_unresolved(self):
        parent = self.runs([1.0, 1.5, 0.7, 1.3, 0.8, 1.0, 1.4, 0.6, 1.2, 0.9])
        self.assertEqual(compare.compare(parent, self.runs([1.0] * 10), self.SPEC)[0][8], "unresolved")


def bench(*extra):
    r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", "curate",
                        "--seed", "7", "--seconds", "1", "--trace", "0", *extra],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)
    return r.returncode, r.stdout.splitlines(), json.loads(r.stdout.splitlines()[-1])


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E") == "1", "set PERFBENCH_E2E=1 to run the benchmark itself")
class InjectedFaults(unittest.TestCase):
    QUERY = run.QUERIES["curate"][0]

    def test_throwing_query_is_a_failure_not_a_fast_sample(self):
        code, lines, out = bench("--inject", f"throw:{self.QUERY}")
        self.assertNotEqual(code, 0)
        self.assertFalse(out["correct"])
        self.assertGreaterEqual(out["failed"], 1)
        with open(os.path.join(run.RECORDS, "curate-seed7-trace0.json")) as f:
            samples = json.load(f)["samples"]
        mine = [s for s in samples if s["name"] == self.QUERY]
        self.assertTrue(mine and all("error" in s for s in mine))
        n = [l for l in lines if l.startswith("metric curate latency_p50_s ")][0].split("n=")[1]
        self.assertEqual(int(n), out["attempted"] - out["failed"])

    def test_wrong_result_exits_non_zero(self):
        code, lines, out = bench("--inject", f"wrong:{self.QUERY}")
        self.assertNotEqual(code, 0)
        self.assertFalse(out["correct"])
        self.assertEqual(out["failed"], 0)
        self.assertTrue(any(l.startswith(f"WRONG curate {self.QUERY}") for l in lines))


if __name__ == "__main__":
    unittest.main()
