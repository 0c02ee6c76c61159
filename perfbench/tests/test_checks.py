"""The benchmark's checkers catch planted faults.

* a catalog result that differs from its oracle SQL, through the
  repository's DuckDB compare (tools/check_oracle.py);
* a missing TxnEvent, a duplicated TxnEvent and a wrongly priced J1
  updater, through the loop checkers (the JVM self-test; it compiles the
  program on first use and takes about a minute).

    python3 -m unittest discover -s perfbench/tests -p 'test_checks.py'
"""
import json
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import run  # noqa: E402

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


class OracleCheckTest(unittest.TestCase):
    def test_planted_mismatch_and_missing_result_fail(self):
        with tempfile.TemporaryDirectory() as tmp:
            sf = os.path.join(tmp, "sf")
            out = os.path.join(tmp, "out")
            os.makedirs(sf)
            for t in TABLES:
                pq.write_table(pa.table({"x": [1, 2]}), os.path.join(sf, t + ".parquet"))
            for name, xs in (("q_ok", [2, 1]), ("q_bad", [1, 3])):
                os.makedirs(os.path.join(out, name))
                pq.write_table(pa.table({"x": xs}), os.path.join(out, name, "part-0.parquet"))
            sql = "SELECT x FROM region"
            with open(os.path.join(out, "oracle_sql.json"), "w") as f:
                json.dump({"q_ok": sql, "q_bad": sql, "q_missing": sql}, f)
            self.assertEqual(run.oracle_check(sf, out), ["q_bad", "q_missing"])


class LoopCheckTest(unittest.TestCase):
    def test_planted_missing_duplicate_and_wrong_price(self):
        classpath, _, _ = run.build()
        os.makedirs(run.OUT, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=run.OUT) as out:
            report = run.jvm(classpath, ["--workload", "selftest", "--out", out, "--cpus", "2"],
                             out, timeout=300)
        got = report["selftest"]
        self.assertEqual(got["clean"]["failed"], 0, got["clean"])
        self.assertEqual(got["clean"]["accepted_invests"], 1)
        self.assertEqual(got["missing"]["orders_missing"], 1)
        self.assertEqual(got["duplicate"]["orders_duplicate"], 1)
        self.assertEqual(got["wrong_price"]["wrong_price"], 1)
        for case in ("missing", "duplicate", "wrong_price"):
            self.assertGreater(got[case]["failed"], 0, case)


if __name__ == "__main__":
    unittest.main()
