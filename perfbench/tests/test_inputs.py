"""Tests of the benchmark's input generators and metric declarations.

Run from the repository root:  python3 -m unittest discover -s perfbench/tests
"""
import csv
import datetime
import decimal
import hashlib
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import oracle_fingerprints  # noqa: E402
import run  # noqa: E402
import sensors  # noqa: E402
import tables  # noqa: E402

NA = {"", "#N/A", "#N/A N/A", "#NA", "-1.#IND", "-1.#QNAN", "-NaN", "-nan",
      "1.#IND", "1.#QNAN", "<NA>", "N/A", "NULL", "NaN", "n/a", "nan", "null"}


def is_valid(row):
    """The reference's row rules (FIXTURES.md A.1), applied
    independently of the generator's own bookkeeping."""
    if any(row[c] in NA for c in ("timestamp", "sensor_id", "temperature",
                                  "humidity", "pressure")):
        return False
    try:
        datetime.datetime.strptime(row["timestamp"], "%Y-%m-%d %H:%M:%S")
        t, h, p = (float(row[c]) for c in ("temperature", "humidity",
                                             "pressure"))
    except ValueError:
        return False
    return -50 <= t <= 50 and 0.20 <= h <= 0.99 and 980 <= p <= 1050


def digest(d):
    h = hashlib.sha256()
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            h.update(f.encode() + fh.read())
    return h.hexdigest()


class SensorGeneratorTest(unittest.TestCase):
    def gen(self, seed, n=40, rows=60, dirty=0.3, reorder=0.1):
        d = tempfile.mkdtemp(dir=self.tmp.name)
        return d, sensors.generate(d, seed, n, rows, dirty, reorder)

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def test_same_seed_same_files(self):
        d1, m1 = self.gen(7)
        d2, m2 = self.gen(7)
        self.assertEqual(digest(d1), digest(d2))
        self.assertEqual(m1, m2)

    def test_seed_changes_files(self):
        d1, _ = self.gen(7)
        d2, _ = self.gen(8)
        self.assertNotEqual(digest(d1), digest(d2))

    def test_exact_mix(self):
        _, m = self.gen(3, n=40, dirty=0.3, reorder=0.1)
        self.assertEqual(sum(x["bad_rows"] > 0 for x in m), 12)
        self.assertEqual(sum(x["reordered"] for x in m), 4)
        self.assertTrue(all(1 <= x["bad_rows"] <= 3 for x in m
                            if x["bad_rows"]))
        # A non-zero fraction always yields at least one file.
        _, m = self.gen(3, n=5, dirty=0.01, reorder=0.01)
        self.assertEqual(sum(x["bad_rows"] > 0 for x in m), 1)
        self.assertEqual(sum(x["reordered"] for x in m), 1)

    def test_accounting_matches_the_files(self):
        d, m = self.gen(11, n=60, rows=50, dirty=0.5, reorder=0.2)
        seen_classes = set()
        for x in m:
            with open(os.path.join(d, x["name"])) as fh:
                header = fh.readline().strip().split(",")
                fh.seek(0)
                rows = list(csv.DictReader(fh))
            self.assertEqual(sorted(header), sorted(sensors.HEADER))
            self.assertEqual(header != sensors.HEADER, x["reordered"])
            valid = [r for r in rows if is_valid(r)]
            self.assertEqual(len(rows), x["rows"])
            self.assertEqual(len(valid), x["valid_rows"])
            self.assertEqual(len(rows) - len(valid), x["bad_rows"])
            self.assertEqual(len({r["sensor_id"] for r in valid}), x["groups"])
            seen_classes |= set(x["error_classes"])
        self.assertEqual(seen_classes, set(sensors.ERROR_CLASSES))

    def test_expectations(self):
        m = [
            {"name": "a", "rows": 10, "bad_rows": 0, "valid_rows": 10,
             "groups": 2},
            {"name": "b", "rows": 10, "bad_rows": 2, "valid_rows": 8,
             "groups": 3},
            {"name": "c", "rows": 1, "bad_rows": 1, "valid_rows": 0,
             "groups": 0},
        ]
        want = sensors.expectations(m)
        self.assertEqual(want["processed"], {"a"})
        self.assertEqual(want["quarantined"], {"b", "c"})
        self.assertEqual((want["raw_rows"], want["agg_rows"]), (10, 6))


class OracleCanonTest(unittest.TestCase):
    """The rendering must match QueryMix.canon in the harness."""

    def test_numbers(self):
        n = oracle_fingerprints.number
        self.assertEqual([n(5), n(5.0), n(-0.0), n(1e20)],
                         ["5", "5", "0", "100000000000000000000"])
        self.assertEqual([n(0.1), n(2.5), n(-0.000123456789012)],
                         ["1e-1", "25e-1", "-123456789e-12"])
        # Nine significant digits, half up, trailing zeros stripped.
        self.assertEqual(n(123456789.75), "12345679e1")
        self.assertEqual(n(0.99999999999), "1e0")
        self.assertEqual(n(decimal.Decimal("12.50")), "125e-1")
        self.assertEqual(n(float("nan")), "NaN")

    def test_values_and_rows(self):
        c = oracle_fingerprints.canon
        self.assertEqual(c(None), "\u0000")
        self.assertEqual(c(True), "true")
        self.assertEqual(c(datetime.datetime(1970, 1, 1, 0, 0, 1, 5)),
                         "t1000005")
        self.assertEqual(c(datetime.date(1970, 1, 3)), "d2")
        self.assertEqual(c([1, None, "x"]), "[1,\u0000,x]")
        self.assertEqual(c({"a": 1.5, "b": "y"}), "(15e-1,y)")
        fp = oracle_fingerprints.fingerprint
        # Columns in name order; rows in any order.
        self.assertEqual(fp(["b", "a"], [(1, 2), (3, 4)]),
                         fp(["a", "b"], [(4, 3), (2, 1)]))
        self.assertEqual(fp(["a"], []), "0:0")


class TablesTest(unittest.TestCase):
    def test_deterministic(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b:
            tables.write_tables(a, 0.001)
            tables.write_tables(b, 0.001)
            for f in sorted(os.listdir(a)):
                ta, tb = pq.read_table(os.path.join(a, f)), \
                    pq.read_table(os.path.join(b, f))
                self.assertTrue(ta.equals(tb), f)
                self.assertEqual(pq.ParquetFile(os.path.join(a, f))
                                 .metadata.num_row_groups, 1)
            self.assertEqual(len(os.listdir(a)), len(tables.TABLES))


class DeclarationsTest(unittest.TestCase):
    def test_benchmark_json_matches_the_harness(self):
        path = os.path.join(HERE, "..", "..", "BENCHMARK.json")
        with open(path) as f:
            b = json.load(f)
        self.assertEqual([w["name"] for w in b["workloads"]], run.WORKLOADS)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]},
                         run.per_layer_metrics())
        self.assertIn("setup_s", run.END_TO_END)


if __name__ == "__main__":
    unittest.main()
