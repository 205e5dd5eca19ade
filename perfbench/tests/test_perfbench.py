"""The benchmark's own tests. Run from the root of a checkout:

    python3 -m unittest discover -s perfbench/tests -v

The harness self-test builds the harness first (about a minute cold).
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import duckdb  # noqa: E402
import gen_tables  # noqa: E402
import run  # noqa: E402


class TableGeneratorTest(unittest.TestCase):
    def test_same_seed_same_tables(self):
        a = gen_tables.tables(3, 0.01)
        b = gen_tables.tables(3, 0.01)
        self.assertEqual(sorted(a), sorted(b))
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)

    def test_seed_changes_seeded_tables(self):
        a = gen_tables.tables(3, 0.01)
        b = gen_tables.tables(5, 0.01)  # same documents variant (odd seeds)
        for name in ("customer", "orders", "lineitem", "events", "embeddings"):
            self.assertFalse(a[name].equals(b[name]), name)
        self.assertTrue(a["documents"].equals(b["documents"]))

    def test_full_scale_row_counts(self):
        rows = {k: v for k, v in gen_tables.ROWS.items()}
        self.assertEqual(sum(rows.values()) + 5 + 25, 893030)


class GateCheckTest(unittest.TestCase):
    """check_gates applies tools/check_oracle.py's comparison."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        d = self.tmp.name
        self.tables = os.path.join(d, "tables")
        self.out = os.path.join(d, "out")
        os.makedirs(self.out)
        gen_tables.write(self.tables, 1, 0.001)
        sql = ("SELECT n_regionkey AS r, CAST(count(*) AS BIGINT) AS n "
               "FROM nation GROUP BY n_regionkey")
        with open(os.path.join(self.out, "oracle_sql.json"), "w") as f:
            json.dump({"g": sql}, f)
        with open(os.path.join(self.out, "errors.json"), "w") as f:
            json.dump({}, f)
        self.con = run.duckdb_views(self.tables)
        self.sql = sql

    def tearDown(self):
        self.tmp.cleanup()

    def write_output(self, sql):
        os.makedirs(os.path.join(self.out, "g"), exist_ok=True)
        self.con.execute(f"COPY ({sql}) TO "
                         f"'{self.out}/g/part-0.parquet' (FORMAT PARQUET)")

    def test_matching_output_passes(self):
        self.write_output(self.sql)
        self.assertEqual(run.check_gates(self.tables, self.out), [])

    def test_corrupted_output_fails(self):
        self.write_output(self.sql.replace("count(*)", "count(*) + 1"))
        bad = run.check_gates(self.tables, self.out)
        self.assertEqual(len(bad), 1)
        self.assertIn("VALUE_MISMATCH", bad[0])

    def test_missing_output_fails(self):
        bad = run.check_gates(self.tables, self.out)
        self.assertIn("NO_OUTPUT", bad[0])


class ShippedOracleResultsTest(unittest.TestCase):
    def test_every_documents_variant_has_an_entry(self):
        for path in os.listdir(run.EXPECTED_DIR):
            with open(os.path.join(run.EXPECTED_DIR, path)) as f:
                entries = json.load(f)
            digests = {e["inputs_sha256"] for e in entries}
            for variant in range(len(gen_tables.DOC_SEEDS)):
                with tempfile.TemporaryDirectory() as d:
                    gen_tables.write(d, variant)
                    con = run.duckdb_views(d)
                    self.assertIn(run.inputs_digest(con, entries[0]["sql"]),
                                  digests, f"{path} variant {variant}")


class HarnessSelfTest(unittest.TestCase):
    """Generator determinism, commit boundaries, and each replica
    correctness check failing on a corrupted replica (perfbench.SelfTest)."""

    def test_selftest(self):
        os.makedirs(run.WORK, exist_ok=True)
        cp = run.build()
        with tempfile.TemporaryDirectory(dir=run.WORK) as d:
            r = subprocess.run(run.java_cmd(cp, ["--selftest", "--work", d]),
                               stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                               text=True, timeout=300)
        lines = [ln for ln in r.stdout.splitlines()
                 if ln.startswith(("PASS", "FAIL"))]
        self.assertEqual(r.returncode, 0, r.stdout[-3000:])
        self.assertGreaterEqual(len(lines), 7)
        self.assertFalse([ln for ln in lines if ln.startswith("FAIL")])


if __name__ == "__main__":
    unittest.main()
