"""Each correctness check flags a planted wrong answer."""
import copy
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import checks  # noqa: E402
import gen  # noqa: E402


class DedupCheck(unittest.TestCase):
    expected = [["full", "ae", [900, 1000, 12, 14]], ["seg", "rabin", [50, 60, 3, 4]]]

    def test_matching_rows_pass(self):
        self.assertEqual(checks.check_dedup(copy.deepcopy(self.expected), self.expected), [])

    def test_planted_wrong_row_is_flagged(self):
        observed = [copy.deepcopy(r) for r in self.expected * 2]
        observed[3][2][2] += 1  # one distinct-chunk count off by one
        self.assertEqual(len(checks.check_dedup(observed, self.expected)), 1)

    def test_row_without_oracle_is_flagged(self):
        observed = [["full", "fixed", [1, 1, 1, 1]]]
        self.assertEqual(len(checks.check_dedup(observed, self.expected)), 1)


class MixCheck(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.tables = os.path.join(self.tmp.name, "tables")
        self.out = os.path.join(self.tmp.name, "out")
        os.makedirs(self.tables)
        gen.write_tables(1, 0.001, self.tables)
        self.sql = {"q_orders": "SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY 1"}

    def tearDown(self):
        self.tmp.cleanup()

    def write(self, name, sql):
        import duckdb
        os.makedirs(os.path.join(self.out, name), exist_ok=True)
        con = duckdb.connect()
        con.sql(f"CREATE VIEW orders AS SELECT * FROM '{self.tables}/orders.parquet'")
        con.sql(f"COPY ({sql}) TO '{self.out}/{name}/part-0.parquet' (FORMAT parquet)")
        con.close()

    def test_matching_output_passes(self):
        self.write("q_orders", self.sql["q_orders"] + " ORDER BY n")
        self.assertEqual(checks.check_mix(self.tables, self.out, ["q_orders"], self.sql), [])

    def test_planted_wrong_output_is_flagged(self):
        self.write("q_orders", "SELECT o_orderstatus, count(*) + 1 AS n FROM orders GROUP BY 1")
        self.assertEqual(len(checks.check_mix(self.tables, self.out, ["q_orders"], self.sql)), 1)

    def test_missing_or_empty_output_is_flagged(self):
        self.write("rows_only", "SELECT * FROM orders WHERE false")
        bad = checks.check_mix(self.tables, self.out, ["q_orders", "rows_only"], self.sql)
        self.assertEqual(len(bad), 2)


class LakeCheck(unittest.TestCase):
    rows = [[1, 10, 5, 100, "1995-01"], [1, 11, 6, 200, "1995-02"], [2, 12, 7, 300, "1995-01"]]
    ops = [
        {"kind": "point", "key": 1},
        {"kind": "insert", "rows": [[9, 13, 1, 50, "1995-01"]]},
        {"kind": "part_agg", "month": "1995-01"},
        {"kind": "eqdelete", "keys": [2]},
        {"kind": "merge", "src": [[1, 3, "1995-03"], [7, 4, "1995-02"]]},
        {"kind": "point", "key": 1},
        {"kind": "part_agg", "month": "1995-02"},
        {"kind": "travel", "version": 2, "month": "1995-01"},
        {"kind": "travel", "version": 1, "month": "1995-01"},
        {"kind": "point", "key": 2},
    ]

    def test_model_by_hand(self):
        want = checks.lake_expected(self.rows, self.ops)
        self.assertEqual(want[0], [[1, 10, 5, 100, "1995-01"], [1, 11, 6, 200, "1995-02"]])
        self.assertEqual(want[2], [[3, 13, 450]])          # rows 1, 2 and the insert
        self.assertEqual(want[5], [[1, 10, 8, 100, "1995-01"], [1, 11, 9, 200, "1995-02"]])
        self.assertEqual(want[6], [[2, 13, 755]])          # key 1 updated, key 7 inserted
        self.assertEqual(want[7], [[3, 13, 450]])          # version 2: after the insert
        self.assertEqual(want[8], [[2, 12, 400]])          # version 1: the CTAS
        self.assertEqual(want[9], [])                      # key 2 was deleted

    def test_matching_reads_pass_and_planted_read_is_flagged(self):
        want = checks.lake_expected(self.rows, self.ops)
        reads = [[1, i, r] for i, r in want.items()]
        self.assertEqual(checks.check_lake(self.rows, self.ops, reads), [])
        reads[4][2] = [[2, 12, 401]]  # a time-travel read off by one cent
        self.assertEqual(len(checks.check_lake(self.rows, self.ops, reads)), 1)


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E") == "1",
                     "set PERFBENCH_E2E=1 to run the benchmark end to end (minutes)")
class PlantedMismatchFailsTheRun(unittest.TestCase):
    """`run.py --plant` corrupts one real output before the check."""

    def test_each_workload(self):
        root = os.path.dirname(os.path.dirname(HERE))
        for w in ("dedup_ingest", "query_mix", "lake_read_write"):
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w,
                                "--seed", "1", "--seconds", "1", "--plant"],
                               cwd=root, capture_output=True, text=True)
            self.assertEqual(p.returncode, 1, w)
            result = json.loads(p.stdout.strip().splitlines()[-1])
            self.assertFalse(result["correct"], w)
            self.assertGreater(result["failed"], 0, w)


if __name__ == "__main__":
    unittest.main()
