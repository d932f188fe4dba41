#!/usr/bin/env python3
"""Tests of the benchmark's own checks.

Run from the repository root: python3 sinkbench/test_checks.py
(scratch files go under .sinkbench_runs/).
The registry check and the registry tables' determinism are tested here;
the landing, dead-letter and JDBC checks and the HFP input determinism are
tested by the JVM self-test, which this file starts (it builds the program
first).
"""
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
# no __pycache__ here or beside scripts/oracle_check.py, which oracle.py imports
sys.dont_write_bytecode = True
import oracle  # noqa: E402
import registry_tables  # noqa: E402

SQL = "SELECT n_nationkey, n_name, CAST(n_nationkey * 1.5 AS DOUBLE) AS w FROM nation ORDER BY 1"


class RegistryCheck(unittest.TestCase):
    def setUp(self):
        runs = Path.cwd() / ".sinkbench_runs"
        runs.mkdir(exist_ok=True)
        self.dir = Path(tempfile.mkdtemp(prefix="test-", dir=runs))
        self.sf = self.dir / "sf"
        self.sf.mkdir()
        con = duckdb.connect()
        con.execute(f"COPY (SELECT i AS n_nationkey, 'N' || i AS n_name FROM range(25) t(i)) "
                    f"TO '{self.sf}/nation.parquet' (FORMAT PARQUET)")
        con.execute(f"CREATE VIEW nation AS SELECT * FROM '{self.sf}/nation.parquet'")
        self.want = con.execute(SQL).fetchdf()

    def tearDown(self):
        shutil.rmtree(self.dir)

    def check(self, got):
        results = self.dir / "results"
        (results / "q").mkdir(parents=True, exist_ok=True)
        got.to_parquet(results / "q" / "part-0.parquet")
        (results / "q.sql").write_text(SQL)
        return oracle.check_registry(str(self.sf), results, ["q"])

    def test_equal_result_passes(self):
        self.assertEqual(self.check(self.want.sample(frac=1, random_state=3)), [])

    def test_wrong_value_fails(self):
        got = self.want.copy()
        got.loc[7, "w"] += 0.25
        self.assertTrue(self.check(got))

    def test_wrong_string_fails(self):
        got = self.want.copy()
        got.loc[3, "n_name"] = "N33"
        self.assertTrue(self.check(got))

    def test_dropped_row_fails(self):
        self.assertTrue(self.check(self.want.drop(index=4)))

    def test_duplicated_row_fails(self):
        got = self.want.copy()
        got.loc[5] = got.loc[6]
        self.assertTrue(self.check(got))

    def test_missing_column_fails(self):
        self.assertTrue(self.check(self.want.drop(columns=["w"])))


class RegistryTables(unittest.TestCase):
    def setUp(self):
        runs = Path.cwd() / ".sinkbench_runs"
        runs.mkdir(exist_ok=True)
        self.dir = Path(tempfile.mkdtemp(prefix="test-", dir=runs))

    def tearDown(self):
        shutil.rmtree(self.dir)

    def files(self, name, seed):
        registry_tables.write(self.dir / name, seed)
        return {p.name: p.read_bytes() for p in sorted((self.dir / name).iterdir())}

    def test_same_seed_gives_identical_tables(self):
        a = self.files("a", 7)
        self.assertEqual(len(a), 7)
        self.assertEqual(a, self.files("b", 7))

    def test_another_seed_gives_other_tables(self):
        a, c = self.files("a", 7), self.files("c", 8)
        self.assertEqual(a["region.parquet"], c["region.parquet"])
        self.assertNotEqual(a["lineitem.parquet"], c["lineitem.parquet"])

    def test_oracle_runs_on_the_tables(self):
        self.files("t", 7)
        con = duckdb.connect()
        n = con.execute(f"SELECT count(*) FROM '{self.dir}/t/lineitem.parquet' "
                        f"JOIN '{self.dir}/t/part.parquet' ON l_partkey = p_partkey").fetchone()[0]
        self.assertEqual(n, registry_tables.ROWS["lineitem"])


class JvmSelfTest(unittest.TestCase):
    def test_inputs_and_landing_checks(self):
        r = subprocess.run([sys.executable, str(HERE / "run.py"), "--selftest"],
                           capture_output=True, text=True, timeout=600)
        # the JVM's lines reach run.py's stderr: "ok  <check>" / "FAIL <check>"
        lines = [l for l in r.stderr.splitlines() if l.startswith(("ok  ", "FAIL "))]
        print("\n".join(lines))
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        self.assertEqual([l for l in lines if l.startswith("FAIL")], [])
        self.assertEqual(len(lines), 15)


if __name__ == "__main__":
    unittest.main(verbosity=2)
