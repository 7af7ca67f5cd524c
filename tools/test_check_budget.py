"""Unit tests for tools/check_budget.py, run as a subprocess on temporary
budget and bench files.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
SCRIPT = os.path.join(HERE, "check_budget.py")


def bench_line(queries):
    return "[info] " + json.dumps({"metric": "total", "unit": "sec",
                                   "queries": queries})


class CheckBudgetTest(unittest.TestCase):

    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        self.addCleanup(self.dir.cleanup)
        self.budget = os.path.join(self.dir.name, "budget.json")

    def check(self, budget, bench_text, stdin=False):
        with open(self.budget, "w") as f:
            json.dump({"queries": budget}, f)
        if stdin:
            return subprocess.run([sys.executable, SCRIPT, self.budget],
                                  input=bench_text, capture_output=True,
                                  text=True)
        bench = os.path.join(self.dir.name, "bench_last.json")
        with open(bench, "w") as f:
            f.write("noise before the bench line\n" + bench_text + "\n")
        return subprocess.run([sys.executable, SCRIPT, self.budget, bench],
                              capture_output=True, text=True)

    def test_all_within_budget_is_ok(self):
        r = self.check({"q1": 1.0, "q2": 2.0},
                       bench_line({"q1": 1.5, "q2": 2.0}))
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertIn("[budget] OK: 2 queries within budget", r.stdout)

    def test_over_twice_budget_inside_the_absolute_slack_is_ok(self):
        # 0.6 s > 2 x 0.2 s, but 0.6 s <= 0.2 s + 0.5 s
        r = self.check({"q_tiny": 0.2}, bench_line({"q_tiny": 0.6}))
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertNotIn("DRIFT", r.stdout)

    def test_over_factor_and_slack_is_drift(self):
        r = self.check({"q1": 1.0, "q_tiny": 0.2},
                       bench_line({"q1": 2.6, "q_tiny": 0.8}))
        self.assertEqual(r.returncode, 1, r.stdout)
        self.assertIn("[budget] DRIFT q1: 2.60s vs budget 1.00s", r.stdout)
        self.assertIn("[budget] DRIFT q_tiny: 0.80s vs budget 0.20s", r.stdout)

    def test_budgeted_query_missing_from_the_bench_fails(self):
        r = self.check({"q1": 1.0, "q2": 2.0}, bench_line({"q1": 1.0}))
        self.assertEqual(r.returncode, 1, r.stdout)
        self.assertIn("[budget] MISSING from bench output: q2", r.stdout)

    def test_unbudgeted_query_is_reported_not_failed(self):
        r = self.check({"q1": 1.0}, bench_line({"q1": 1.0, "q9": 30.0}))
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertIn("[budget] NEW (no budget yet): q9 = 30.00s", r.stdout)
        self.assertIn("[budget] OK: 1 queries within budget, 1 new", r.stdout)

    def test_no_bench_line_is_an_error(self):
        r = self.check({"q1": 1.0}, "nothing here")
        self.assertEqual(r.returncode, 2, r.stdout)
        self.assertIn("[budget] no bench JSON line in", r.stdout)

    def test_reads_the_bench_line_from_stdin(self):
        r = self.check({"q1": 1.0}, bench_line({"q1": 3.0}), stdin=True)
        self.assertEqual(r.returncode, 1, r.stdout)
        self.assertIn("[budget] DRIFT q1", r.stdout)
        r = self.check({"q1": 1.0}, "no json\n", stdin=True)
        self.assertEqual(r.returncode, 2, r.stdout)
        self.assertIn("[budget] no bench JSON line on stdin", r.stdout)


if __name__ == "__main__":
    unittest.main()
