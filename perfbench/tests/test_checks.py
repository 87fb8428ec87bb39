"""The benchmark's own tests: every correctness check must fire on a
deliberately corrupted output and stay quiet on a correct one.

    python3 -m unittest discover -s perfbench/tests

The ETL cases build the harness (first use) and run small loads, so
they take a few minutes; the oracle cases run in-process. The
known-defects case fails until the program defects it names are fixed.
"""
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import duckdb  # noqa: E402

import oracle  # noqa: E402
import run  # noqa: E402


class OracleCompare(unittest.TestCase):
    def setUp(self):
        self.con = duckdb.connect()
        self.con.execute("CREATE TABLE t AS SELECT * FROM (VALUES "
                         "(1, 'a', 0.5), (2, 'b', 1.25), (3, NULL, 2.0)) "
                         "v(k, s, x)")

    def tearDown(self):
        self.con.close()

    def cmp(self, ours):
        return oracle.compare(self.con, ours, "SELECT k, s, x FROM t")

    def test_same_rows_in_another_order_and_column_order_match(self):
        self.assertIsNone(self.cmp("SELECT x, s, k FROM t ORDER BY k DESC"))

    def test_integral_double_matches_integer(self):
        self.assertIsNone(self.cmp(
            "SELECT CAST(k AS DOUBLE) AS k, s, x FROM t"))

    def test_changed_value_fires(self):
        self.assertIsNotNone(self.cmp(
            "SELECT k, s, CASE WHEN k = 2 THEN 1.2500001 ELSE x END AS x FROM t"))

    def test_dropped_row_fires(self):
        self.assertIsNotNone(self.cmp("SELECT k, s, x FROM t WHERE k <> 3"))

    def test_duplicated_row_fires(self):
        self.assertIsNotNone(self.cmp(
            "SELECT k, s, x FROM t UNION ALL SELECT k, s, x FROM t WHERE k = 1"))

    def test_renamed_column_fires(self):
        self.assertIsNotNone(self.cmp("SELECT k, s AS name, x FROM t"))

    def test_null_for_value_fires(self):
        self.assertIsNotNone(self.cmp(
            "SELECT k, CASE WHEN k = 1 THEN NULL ELSE s END AS s, x FROM t"))


def self_test(mode):
    """Run `graftbench.SelfTest` in `mode`; return (exit code, output)."""
    cp = run.classpath()
    work = tempfile.mkdtemp(dir=BENCH, prefix=".work-selftest-")
    try:
        os.makedirs(os.path.join(work, "tmp"))
        cmd = (["java"]
               + [f"--add-opens={o}=ALL-UNNAMED" for o in run.ADD_OPENS]
               + [f"-Xmx{run.HEAP}", f"-Djava.io.tmpdir={work}/tmp",
                  "-cp", cp, "graftbench.SelfTest", work, mode])
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(run.cores()))
        p = subprocess.run(cmd, env=env, cwd=work, capture_output=True,
                           text=True, timeout=600)
        print(p.stdout)
        return p.returncode, p.stdout + p.stderr[-3000:]
    finally:
        shutil.rmtree(work, ignore_errors=True)


class EtlChecks(unittest.TestCase):
    def test_each_check_fires_on_a_corrupted_output(self):
        rc, out = self_test("checks")
        self.assertEqual(rc, 0, out)

    def test_known_program_defects_are_fixed(self):
        """Export shapes the timed workload steers around because the
        program fails on them; fails while any of them still does."""
        rc, out = self_test("defects")
        self.assertEqual(rc, 0, out)


if __name__ == "__main__":
    unittest.main()
