"""Tests of the benchmark's Python side: the table generator and the
oracle check.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

import oracle
import tables

SQL = "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"


def read(path):
    with open(path, "rb") as f:
        return f.read()


class TablesTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            tables.write(f"{d}/a", 3, 0.001)
            tables.write(f"{d}/b", 3, 0.001)
            tables.write(f"{d}/c", 4, 0.001)
            for t in oracle.TABLES:
                self.assertEqual(read(f"{d}/a/{t}.parquet"), read(f"{d}/b/{t}.parquet"), t)
            self.assertNotEqual(read(f"{d}/a/lineitem.parquet"), read(f"{d}/c/lineitem.parquet"))


class OracleTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        self.data = f"{self.dir.name}/data"
        tables.write(self.data, 3, 0.001)
        self.con = oracle.connect(self.data)
        self.want = oracle.expected(self.con, {"q": SQL})["q"]

    def tearDown(self):
        self.dir.cleanup()

    def result(self, keys, names):
        out = f"{self.dir.name}/result-{len(os.listdir(self.dir.name))}"
        os.makedirs(out)
        pq.write_table(pa.table({"r_name": names, "r_regionkey": pa.array(keys, pa.int32())}),
                       f"{out}/part-0.parquet")
        return out

    def test_correct_result_passes(self):
        names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
        self.assertIsNone(oracle.mismatch(self.con, self.result(range(5), names), self.want))

    def test_wrong_value_missing_row_and_wrong_order_fail(self):
        names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
        bad = names[:2] + ["ATLANTIS"] + names[3:]
        self.assertIn("row 2", oracle.mismatch(self.con, self.result(range(5), bad), self.want))
        self.assertIn("rows", oracle.mismatch(
            self.con, self.result(range(4), names[:4]), self.want))
        self.assertIsNotNone(oracle.mismatch(
            self.con, self.result(range(4, -1, -1), names[::-1]), self.want))


if __name__ == "__main__":
    unittest.main()
