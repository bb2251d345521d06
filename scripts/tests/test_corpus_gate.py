"""Tests of scripts/corpus_gate.py: the rewrites are deterministic and
leave the tables a gate does not name equal to the source, and a crashed
oracle run never summarizes as a complete, passing sweep.

Run: python3 -m unittest discover -s scripts/tests
"""
import os
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import corpus_gate as cg  # noqa: E402

SRC = os.path.join(cg.TESTDATA, "sf0.001")


def scan(path):
    """DuckDB scan of one table: a parquet file or a directory of parts."""
    return f"read_parquet('{path}/*.parquet')" if os.path.isdir(path) \
        else f"read_parquet('{path}')"


def diff(con, a, b):
    """How table a differs from table b in column names, order and types
    or in its row multiset; None when equal."""
    sa = con.sql(f"DESCRIBE SELECT * FROM {scan(a)}").fetchall()
    sb = con.sql(f"DESCRIBE SELECT * FROM {scan(b)}").fetchall()
    if [c[:2] for c in sa] != [c[:2] for c in sb]:
        return f"schema {sa} vs {sb}"
    n = [con.sql(f"SELECT count(*) FROM (SELECT * FROM {scan(x)} EXCEPT ALL "
                 f"SELECT * FROM {scan(y)})").fetchone()[0]
         for x, y in ((a, b), (b, a))]
    return f"{n[0]} rows only in the first, {n[1]} only in the second" \
        if any(n) else None


@unittest.skipUnless(os.path.isdir(SRC), "test corpus absent")
class RewriteTest(unittest.TestCase):
    def test_rewrites_are_deterministic_and_keep_untouched_tables(self):
        con = duckdb.connect()
        for name, gate in cg.GATES.items():
            with self.subTest(gate=name), tempfile.TemporaryDirectory() as a, \
                    tempfile.TemporaryDirectory() as b:
                self.assertEqual(cg.build(gate, SRC, a), cg.build(gate, SRC, b))
                for t in cg.co.TABLES:
                    out = f"{a}/{t}.parquet"
                    self.assertIsNone(diff(con, out, f"{b}/{t}.parquet"), t)
                    if t not in gate.tables and "*" not in gate.tables:
                        self.assertIsNone(diff(con, f"{SRC}/{t}.parquet", out), t)


class SummaryTest(unittest.TestCase):
    def test_crashed_oracle_run_is_incomplete_and_fails(self):
        # Verify died before writing oracle_sql.json: no per-query lines
        with tempfile.TemporaryDirectory() as out:
            for rc in (1, 0):
                s, exit_code = cg.summarize({}, "== 0 ok, 0 fail ==\n", rc, out)
                self.assertEqual(s["n_declared"], -1)
                self.assertFalse(s["complete"])
                self.assertNotEqual(exit_code, 0)

    def test_covered_inventory_is_complete(self):
        with tempfile.TemporaryDirectory() as out:
            with open(f"{out}/oracle_sql.json", "w") as f:
                f.write('{"q01": "SELECT 1", "q02": "SELECT 2"}')
            ok = "[ok]   q01 (1 rows)\n[ok]   q02 (1 rows)\n"
            s, exit_code = cg.summarize({}, ok, 0, out)
            self.assertTrue(s["complete"])
            self.assertEqual(exit_code, 0)
            s, exit_code = cg.summarize({}, ok.splitlines()[0], 0, out)
            self.assertFalse(s["complete"])
            self.assertEqual(exit_code, 3)
            s, exit_code = cg.summarize({}, ok, 0, out, ({}, True, False))
            self.assertEqual(exit_code, 3)


if __name__ == "__main__":
    unittest.main()
