#!/usr/bin/env python3
"""Self-tests of the benchmark harness (no JVM needed):

    python3 perfbench/selftest.py
"""
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import duckdb  # noqa: E402

import gen  # noqa: E402
import oracle  # noqa: E402
import report  # noqa: E402

SCRATCH = os.path.join(HERE, "work", "selftest")


class TailTest(unittest.TestCase):
    def test_too_few_samples_has_no_tail_but_says_how_many(self):
        self.assertEqual(report.tail(list(range(10))),
                         {"value": None, "percentile": None, "n": 10})

    def test_tail_reports_percentile_and_n(self):
        t = report.tail([float(x) for x in range(20, 0, -1)])  # 1..20, unsorted
        self.assertEqual(t, {"value": 10.0, "percentile": 50.0, "n": 20})
        t = report.tail(list(range(100)))
        self.assertEqual((t["value"], t["percentile"], t["n"]), (89, 90.0, 100))
        self.assertEqual(sum(1 for x in range(100) if x > t["value"]), 10)


class ErrorRateTest(unittest.TestCase):
    def test_thrown_and_wrong_operations_both_count(self):
        os.makedirs(SCRATCH, exist_ok=True)
        with open(os.path.join(SCRATCH, "expected.json"), "w") as f:
            f.write('["OK", "1|2", "1|2", "OK"]')
        ops = [{"i": 0, "result": "OK", "error": None},
               {"i": 1, "result": None, "error": "java.lang.RuntimeException: boom"},
               {"i": 2, "result": "1|3", "error": None},
               {"i": 3, "result": "OK", "error": None}]
        outcomes, check = report._serve_outcomes(SCRATCH, {"ops": ops})
        self.assertEqual(outcomes, ["ok", "failed", "wrong", "ok"])
        self.assertEqual(report.error_rate(outcomes), (4, 2, 0.5))
        self.assertEqual(len(check["diff"]), 2)

    def test_nothing_attempted_is_all_error(self):
        self.assertEqual(report.error_rate([]), (0, 0, 1.0))


class ReplayCheckTest(unittest.TestCase):
    ROWS, BATCH = 3000, 1000

    @classmethod
    def setUpClass(cls):
        shutil.rmtree(SCRATCH, ignore_errors=True)
        cls.inputs = os.path.join(SCRATCH, "in")
        gen.write_epoch_inputs(cls.inputs, 7, cls.ROWS)
        con = duckdb.connect()
        oracle.replay(con, cls.inputs, cls.ROWS, cls.BATCH, report.WINDOW)
        cls.good = os.path.join(SCRATCH, "good.parquet")
        cls.bad = os.path.join(SCRATCH, "bad.parquet")
        con.execute(f"COPY expected TO '{cls.good}' (FORMAT parquet)")
        # one row's views changed: the kind of slip a wrong kernel makes
        cls.victim = con.execute(
            "SELECT video_id, load_seq FROM expected WHERE views IS NOT NULL "
            "ORDER BY video_id LIMIT 1").fetchone()
        con.execute(f"""COPY (SELECT * REPLACE (CASE WHEN video_id = '{cls.victim[0]}'
            THEN CAST(CAST(views AS BIGINT) + 1 AS VARCHAR) ELSE views END AS views)
            FROM expected) TO '{cls.bad}' (FORMAT parquet)""")

    def check(self, path):
        return oracle.check_snapshot(self.inputs, path, self.ROWS, self.BATCH,
                                     report.WINDOW)

    def test_replay_accepts_its_own_snapshot(self):
        wrong, n, _, diff = self.check(self.good)
        self.assertEqual((wrong, diff), ([], []))
        self.assertGreater(n, 0.9 * self.ROWS * 0.9)

    def test_replay_rejects_one_perturbed_row(self):
        wrong, _, _, diff = self.check(self.bad)
        self.assertEqual(wrong, [self.victim[1]])
        self.assertEqual(len(diff), 2)  # the extra row and the missing one

    def test_the_hash_tells_the_two_apart(self):
        self.assertNotEqual(self.check(self.good)[2], self.check(self.bad)[2])


if __name__ == "__main__":
    unittest.main()
