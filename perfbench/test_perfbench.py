"""Tests of the benchmark's own pieces: seeded generators, their tallies,
the percentile rule, the oracle comparison and the metric catalogue.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import csv
import hashlib
import io
import json
import os
import tempfile
import unittest

import gen
import report
import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def digest_dir(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        h.update(name.encode())
        with open(os.path.join(d, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class EnergyGeneratorTest(unittest.TestCase):
    def write(self, seed, batches=3, rows=500):
        d = tempfile.TemporaryDirectory()
        self.addCleanup(d.cleanup)
        return d.name, gen.write_energy(seed, d.name, batches, rows)

    def test_same_seed_gives_identical_bytes(self):
        a, _ = self.write(7)
        b, _ = self.write(7)
        c, _ = self.write(8)
        self.assertEqual(digest_dir(a), digest_dir(b))
        self.assertNotEqual(digest_dir(a), digest_dir(c))

    def test_tallies_match_the_rows_under_the_ingest_rules(self):
        d, meta = self.write(3)
        for t in meta["batches"]:
            with open(os.path.join(d, t["file"]), encoding="utf-8") as f:
                text = f.read()
            self.assertEqual(t["bytes"], len(text.encode("utf-8")))
            lines = text.splitlines()
            self.assertEqual(lines[0], gen.HEADER)
            home, valid = {}, 0
            for r in csv.reader(io.StringIO("\n".join(lines[1:]))):
                try:
                    kwh = float(r[2])
                except ValueError:
                    kwh = None
                if r[0] and r[1] and kwh is not None:
                    valid += 1
                    c = home.setdefault(r[0], [0, 0])
                    c[0] += 1
                    c[1] += round(kwh * 100)
            self.assertEqual(t["valid"], valid)
            self.assertEqual(t["rejected"], t["rows"] // gen.DIRTY_EVERY)
            self.assertEqual(t["home"], home)
            for key in ("home_month", "appliance", "season"):
                self.assertEqual(sum(c[0] for c in t[key].values()), valid)
                self.assertEqual(sum(c[1] for c in t[key].values()),
                                 sum(c[1] for c in home.values()))

    def test_domain(self):
        _, meta = self.write(5, batches=1, rows=2000)
        t = meta["batches"][0]
        self.assertTrue(set(t["appliance"]) <= set(gen.APPLIANCES))
        self.assertTrue(all(1 <= int(h) <= gen.HOMES for h in t["home"]))
        self.assertTrue(all(1 <= int(k.split("|")[1]) <= gen.MONTHS
                            for k in t["home_month"]))


class DocumentGeneratorTest(unittest.TestCase):
    def test_same_seed_gives_identical_parquet(self):
        paths = []
        for seed in (4, 4, 5):
            with tempfile.TemporaryDirectory() as d:
                with open(gen.write_documents(seed, d, 200, 150), "rb") as f:
                    paths.append(hashlib.sha256(f.read()).hexdigest())
        self.assertEqual(paths[0], paths[1])
        self.assertNotEqual(paths[0], paths[2])

    def test_rows(self):
        rows = gen.documents(9, 300, 200)
        self.assertEqual([r[0] for r in rows], list(range(300)))
        for doc_id, text, lang, source, n_chars in rows:
            self.assertEqual(n_chars, len(text))
            self.assertEqual(source, f"src{doc_id % gen.SOURCES}")
            self.assertIn(lang, [l for l, _ in gen.LANGS])
            words = text.split()
            self.assertTrue(set(words) <= set(gen.VOCAB) | {"dup"})
        # resampling with replacement repeats texts under fresh ids
        self.assertLess(len({r[1] for r in rows}), len(rows))


class PercentileRuleTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(99), 50.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(999), 90.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile([5.0], 99.9), 5.0)
        self.assertEqual(stats.tail(list(range(1, 101))), (90.0, 90))
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (50.0, 2.0))

    def test_median_geomean(self):
        self.assertEqual(stats.median([3, 1, 2, 4]), 2.5)
        self.assertAlmostEqual(stats.geomean([1, 100]), 10.0)


class OracleCheckTest(unittest.TestCase):
    def test_compare_ignores_order_and_float_noise(self):
        got = [(2, 0.30000000000000004), (1, 1.5)]
        exp = [(1.5, 1), (0.3, 2)]
        self.assertEqual(report.compare(["a", "b"], got, ["b", "a"], exp), "")
        self.assertIn("rows", report.compare(["a"], [(1,)], ["a"], []))
        self.assertIn("!=", report.compare(["a"], [(1,)], ["a"], [(2,)]))

    def test_materialized_keeps_results_and_recursion(self):
        import duckdb
        sql = ("WITH RECURSIVE base AS (\nSELECT range AS x FROM range(5)),\n"
               "twice AS (\nSELECT x FROM base UNION ALL SELECT x FROM base),\n"
               "walk AS (\nSELECT 0 AS n UNION SELECT n + 1 FROM walk WHERE n < 3)\n"
               "SELECT (SELECT count(*) FROM twice) AS c, (SELECT max(n) FROM walk) AS m")
        m = report.materialized(sql)
        self.assertIn("base AS MATERIALIZED (", m)
        self.assertIn("twice AS MATERIALIZED (", m)
        self.assertIn("walk AS (", m)
        con = duckdb.connect()
        self.assertEqual(con.execute(m).fetchall(), con.execute(sql).fetchall())


class CatalogueTest(unittest.TestCase):
    def test_benchmark_json_lists_exactly_the_reported_metrics(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(report.WORKLOADS))
        for key, table in (("end_to_end", report.END_TO_END), ("per_layer", report.PER_LAYER)):
            self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec[key]],
                             [tuple(t) for t in table])


if __name__ == "__main__":
    unittest.main()
