#!/usr/bin/env python3
"""Tests of the benchmark's own correctness checks: each must pass on the
right expected result and fail on a deliberately wrong one, and a failed
operation must never count as a latency.

    python3 perfbench/test_checks.py

The model checks run in the JVM (`perfbench.Main --workload selftest`),
so this builds the benchmark first when needed.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import run  # noqa: E402


def write_check_dir(d, sql, rows_sql):
    """Lays out one entry `x` the way the adhoc_read check writes it:
    x/part-0.parquet holding the program's output, oracle_sql.json the SQL."""
    (Path(d) / "x").mkdir()
    con = duckdb.connect()
    con.sql(f"CREATE VIEW nation AS SELECT * FROM read_parquet('{run.data_dir()}/nation.parquet')")
    con.sql(f"COPY ({rows_sql}) TO '{d}/x/part-0.parquet' (FORMAT parquet)")
    (Path(d) / "oracle_sql.json").write_text(json.dumps({"x": sql}))


class OracleCheck(unittest.TestCase):
    SQL = "SELECT n_nationkey AS k, n_name AS name FROM nation ORDER BY n_nationkey LIMIT 3"

    def failures(self, rows_sql):
        base = HERE.parent / ".bench_build" / "perfbench"
        base.mkdir(parents=True, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=base) as d:
            write_check_dir(d, self.SQL, rows_sql)
            return run.oracle_failures(d)

    def test_matching_output_passes(self):
        self.assertEqual(self.failures(self.SQL), set())

    def test_wrong_value_fails(self):
        self.assertEqual(self.failures(
            "SELECT k, CASE WHEN k = 1 THEN 'WRONG' ELSE name END AS name FROM "
            f"({self.SQL})"), {"x"})

    def test_missing_row_fails(self):
        self.assertEqual(self.failures(f"SELECT * FROM ({self.SQL}) LIMIT 2"), {"x"})


class FailuresAreLoud(unittest.TestCase):
    def result(self, ops):
        return {"workload": "keyed_lookups", "ops": ops, "window_s": 2.0, "setup_s": 1.0,
                "heap_live_mb": 1.0, "problems": [], "bytes_added": 1, "user_bytes": 1,
                "table_bytes": 1, "snapshot_bytes": 1}

    def op(self, ms, ok=True, kind="lookup", entry=None):
        return {"kind": kind, "entry": entry, "ms": ms, "ok": ok, "error": None if ok else "boom"}

    def test_thrown_op_is_not_a_latency(self):
        ops = [self.op(100.0), self.op(100.0), self.op(1.0, ok=False)]
        attempted, failed, _, report = run.summarize(self.result(ops), set())
        self.assertEqual((attempted, failed), (3, 1))
        self.assertEqual(report["lookup_p50_ms"][0], 100.0)
        self.assertAlmostEqual(report["fail_ratio"][0], 1 / 3)

    def test_oracle_mismatch_drops_every_timing_of_the_entry(self):
        res = self.result([self.op(500.0, kind="warm", entry="good"),
                           self.op(1.0, kind="warm", entry="bad"),
                           self.op(2.0, kind="cold", entry="bad")])
        res["workload"] = "adhoc_read"
        attempted, failed, _, report = run.summarize(res, {"bad"})
        self.assertEqual((attempted, failed), (3, 2))
        self.assertEqual(report["read_warm_p50_ms"][0], 500.0)


class ModelChecks(unittest.TestCase):
    def test_jvm_selftest(self):
        cp = build.build()
        proc = subprocess.run(["java", "-cp", cp, "perfbench.Main", "--workload", "selftest"],
                              stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                              timeout=300)
        self.assertEqual(proc.returncode, 0, proc.stdout)
        self.assertIn("9 ok, 0 fail", proc.stdout)


if __name__ == "__main__":
    os.chdir(HERE.parent)
    unittest.main()
