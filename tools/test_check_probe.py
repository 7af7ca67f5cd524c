"""Unit tests for tools/check_probe.py, run as a subprocess on temporary
budget and probe-log files.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
SCRIPT = os.path.join(HERE, "check_probe.py")


def probe_line(label, small, big, scale="10x", tail=""):
    return (f"[info] [scale-probe] {label} sf0.1={small:.2f}s "
            f"{scale}={big:.2f}s ratio={big / small:.1f}{tail}\n")


class CheckProbeTest(unittest.TestCase):

    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        self.addCleanup(self.dir.cleanup)

    def run_probe(self, ratios, lines, classes=None, slack=2.0):
        budget = os.path.join(self.dir.name, "budget.json")
        log = os.path.join(self.dir.name, "probe.log")
        with open(budget, "w") as f:
            json.dump({"abs_slack_sec": slack, "ratios": ratios,
                       "classes": classes or {}}, f)
        with open(log, "w") as f:
            f.write("noise before the probe\n")
            f.writelines(lines)
        return subprocess.run([sys.executable, SCRIPT, budget, log],
                              capture_output=True, text=True)

    def test_parses_probe_lines_under_a_log_prefix(self):
        r = self.run_probe({"q1_scan": 6.0, "q2 two words": 6.0},
                           [probe_line("q1_scan", 1.0, 5.0),
                            probe_line("q2 two words", 2.0, 4.0)])
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)
        self.assertIn("ok    q1_scan", r.stdout)
        self.assertIn("ok    q2 two words", r.stdout)
        self.assertIn("check_probe: OK (2 labels, 2 budgeted", r.stdout)

    def test_no_probe_lines_is_an_error(self):
        r = self.run_probe({"q1_scan": 6.0}, ["nothing here\n"])
        self.assertEqual(r.returncode, 2)
        self.assertIn("no [scale-probe] lines", r.stderr)

    def test_ratio_over_budget_inside_the_absolute_slack_is_ok(self):
        # ratio 20x > 6x, but 2.0s <= 6 * 0.1s + 2.0s
        r = self.run_probe({"q_tiny": 6.0}, [probe_line("q_tiny", 0.1, 2.0)])
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertIn("ok    q_tiny", r.stdout)

    def test_over_ratio_and_slack_is_drift(self):
        # ratio 20x > 6x and 20s > 6 * 1s + 2s
        r = self.run_probe({"q_slow": 6.0}, [probe_line("q_slow", 1.0, 20.0)])
        self.assertEqual(r.returncode, 1)
        self.assertIn("DRIFT q_slow", r.stdout)
        self.assertIn("check_probe: FAIL (1 drift, 0 missing, 0 unclassified)",
                      r.stdout)

    def test_budgeted_but_unprobed_is_missing(self):
        r = self.run_probe({"q1_scan": 6.0, "q_gone": 6.0},
                           [probe_line("q1_scan", 1.0, 5.0)])
        self.assertEqual(r.returncode, 1)
        self.assertIn("MISSING q_gone", r.stdout)
        self.assertIn("(0 drift, 1 missing, 0 unclassified)", r.stdout)

    def test_budget_over_10x_without_a_class_is_noclass(self):
        r = self.run_probe({"q_big": 12.0, "q_classed": 12.0},
                           [probe_line("q_big", 1.0, 5.0),
                            probe_line("q_classed", 1.0, 5.0)],
                           classes={"q_classed": "exact-face"})
        self.assertEqual(r.returncode, 1)
        self.assertIn("NOCLASS q_big", r.stdout)
        self.assertNotIn("NOCLASS q_classed", r.stdout)
        self.assertIn("[exact-face]", r.stdout)
        self.assertIn("(0 drift, 0 missing, 1 unclassified)", r.stdout)

    def test_unbudgeted_label_is_informational(self):
        r = self.run_probe({"q1_scan": 6.0},
                           [probe_line("q1_scan", 1.0, 5.0),
                            probe_line("q_exact", 1.0, 90.0)])
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertIn("(info) q_exact", r.stdout)

    def test_trailing_fields_do_not_change_the_parse(self):
        tail = (" stages=7->9 shuffle_bytes=1200->98000"
                " heavy_ms=40/12->390/120")
        r = self.run_probe({"q1_scan": 6.0},
                           [probe_line("q1_scan", 1.0, 5.0, tail=tail)])
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertIn("ok    q1_scan", r.stdout)
        self.assertIn("ratio    5.0x (max 6.0x, 1.00s -> 5.00s)", r.stdout)

    def test_a_100x_line_is_not_a_10x_row(self):
        # recorded by the 100x battery, never gated: a 90x ratio on a
        # budgeted label must neither drift nor count as probed
        r = self.run_probe({"q1_scan": 6.0, "q_big": 6.0},
                           [probe_line("q1_scan", 1.0, 5.0),
                            probe_line("q_big", 1.0, 90.0, scale="100x")])
        self.assertEqual(r.returncode, 1, r.stdout)
        self.assertNotIn("DRIFT", r.stdout)
        self.assertIn("MISSING q_big", r.stdout)

    def test_a_failed_label_fails_the_gate_and_is_named(self):
        r = self.run_probe({"q1_scan": 6.0, "q_boom": 6.0},
                           [probe_line("q1_scan", 1.0, 5.0),
                            "[info] [scale-probe] q_boom FAILED: boom\n",
                            "[info] [scale-probe] q_free FAILED: gone\n"])
        self.assertEqual(r.returncode, 1, r.stdout)
        self.assertIn("FAILED q_boom", r.stdout)
        self.assertIn("FAILED q_free", r.stdout)
        self.assertNotIn("MISSING q_boom", r.stdout)
        self.assertIn("(0 drift, 0 missing, 0 unclassified), 2 failed",
                      r.stdout)


if __name__ == "__main__":
    unittest.main()
