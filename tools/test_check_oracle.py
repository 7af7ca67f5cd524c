"""Unit tests for tools/check_oracle.py, run as a subprocess on a temporary
sf directory (one-row parquet tables) and a Verify-style output directory
(per-query parquet plus oracle_sql.json).

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
SCRIPT = os.path.join(HERE, "check_oracle.py")

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


class CheckOracleTest(unittest.TestCase):

    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        self.addCleanup(self.dir.cleanup)
        self.sf = os.path.join(self.dir.name, "sf")
        self.out = os.path.join(self.dir.name, "out")
        os.makedirs(self.sf)
        os.makedirs(self.out)
        for i, t in enumerate(TABLES):
            pq.write_table(pa.table({"id": pa.array([i], pa.int64()),
                                     "name": pa.array([t])}),
                           os.path.join(self.sf, f"{t}.parquet"))

    def spark_output(self, name, columns):
        """One Verify output: `columns` maps a name to a pyarrow array."""
        pq.write_table(pa.table(columns), os.path.join(self.out, name))

    def check(self, oracle):
        with open(os.path.join(self.out, "oracle_sql.json"), "w") as f:
            json.dump(oracle, f)
        return subprocess.run([sys.executable, SCRIPT, self.sf, self.out],
                              capture_output=True, text=True)

    def test_everything_matches(self):
        self.spark_output("q1", {"id": pa.array([5], pa.int64()),
                                 "name": pa.array(["orders"])})
        self.spark_output("q2", {"n": pa.array([10], pa.int64())})
        r = self.check({
            "q1": "SELECT id, name FROM orders",
            "q2": "SELECT CAST(count(*) AS BIGINT) AS n FROM ("
                  + " UNION ALL ".join(f"SELECT id FROM {t}" for t in TABLES)
                  + ")"})
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)
        self.assertIn("OK   q1: 1 rows", r.stdout)
        self.assertIn("2/2 queries match", r.stdout)

    def test_missing_spark_output_fails(self):
        self.spark_output("q1", {"id": pa.array([0], pa.int64())})
        r = self.check({"q1": "SELECT id FROM region",
                        "q2": "SELECT id FROM nation"})
        self.assertEqual(r.returncode, 1, r.stdout)
        self.assertIn("FAIL q2: no spark output", r.stdout)
        self.assertIn("1/2 queries match", r.stdout)

    def test_column_name_mismatch_fails(self):
        self.spark_output("q1", {"ident": pa.array([0], pa.int64())})
        r = self.check({"q1": "SELECT id FROM region"})
        self.assertEqual(r.returncode, 1, r.stdout)
        self.assertIn("FAIL q1: columns spark=['ident'] oracle=['id']",
                      r.stdout)

    def test_row_count_mismatch_fails(self):
        self.spark_output("q1", {"id": pa.array([0, 0], pa.int64())})
        r = self.check({"q1": "SELECT id FROM region"})
        self.assertEqual(r.returncode, 1, r.stdout)
        self.assertIn("FAIL q1: rows spark=2 oracle=1", r.stdout)

    def test_int_against_float_is_a_dtype_split(self):
        # the same number, but the oracle renders it as a float
        self.spark_output("q1", {"s": pa.array([308], pa.int64())})
        r = self.check({"q1": "SELECT CAST(308 AS DOUBLE) AS s"})
        self.assertEqual(r.returncode, 1, r.stdout)
        self.assertIn("FAIL q1: dtype split col=s spark=int64 oracle=float64",
                      r.stdout)

    def test_float_within_relative_tolerance_matches(self):
        self.spark_output("q1", {"x": pa.array([1234.5 * (1 + 1e-12)])})
        r = self.check({"q1": "SELECT CAST(1234.5 AS DOUBLE) AS x"})
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertIn("OK   q1: 1 rows", r.stdout)

    def test_nan_equals_nan(self):
        self.spark_output("q1", {"x": pa.array([float("nan")])})
        r = self.check({"q1": "SELECT CAST('nan' AS DOUBLE) AS x"})
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertIn("1/1 queries match", r.stdout)

    def test_value_mismatch_fails(self):
        self.spark_output("q1", {"id": pa.array([5], pa.int64()),
                                 "name": pa.array(["lineitem"])})
        r = self.check({"q1": "SELECT id, name FROM lineitem"})
        self.assertEqual(r.returncode, 1, r.stdout)
        self.assertIn("FAIL q1: value mismatch col=id row=0 spark=5 oracle=6",
                      r.stdout)
        self.assertIn("0/1 queries match", r.stdout)


if __name__ == "__main__":
    unittest.main()
