"""Tests for eventlog_queries.py over a small hand-written event log.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""

import io
import json
import os
import unittest
from contextlib import redirect_stdout

import eventlog_queries as eq

FIXTURE = os.path.join(os.path.dirname(__file__), "testdata", "eventlog_small.jsonl")


class EventlogQueriesTest(unittest.TestCase):

    def rows(self):
        with open(FIXTURE, encoding="utf-8") as f:
            return {r["execution"]: r for r in eq.summarise(f)}

    def test_jobs_and_stages_per_execution(self):
        rows = self.rows()
        self.assertEqual(list(rows), ["0", "1", "-"])
        # job 1 lists stage 0 again (skipped): it counts once, as a shuffle stage
        self.assertEqual((rows["0"]["jobs"], rows["0"]["shuffle_stages"],
                          rows["0"]["broadcast_stages"]), (2, 1, 0))
        self.assertEqual((rows["1"]["jobs"], rows["1"]["shuffle_stages"],
                          rows["1"]["broadcast_stages"]), (2, 0, 1))
        self.assertEqual(rows["-"]["jobs"], 1)

    def test_plan_bytes_sum_start_and_adaptive_updates(self):
        rows = self.rows()
        self.assertEqual(rows["0"]["plan_bytes"], len("AAAA") + len("BB"))
        self.assertEqual(rows["1"]["plan_bytes"], len("CCC"))

    def test_first_graft_frame(self):
        rows = self.rows()
        self.assertEqual(rows["0"]["frame"], "graft.operators.AnnIndex$.retract(AnnIndex.scala:781)")
        self.assertEqual(rows["1"]["frame"], "")

    def test_cli_table_total_and_json(self):
        out = io.StringIO()
        with redirect_stdout(out):
            self.assertEqual(eq.main([FIXTURE]), 0)
        total = out.getvalue().strip().splitlines()[-1]
        self.assertEqual(total, "total\tqueries=2\tjobs=5\tshuffle_stages=1\t"
                                "broadcast_stages=1\tplan_bytes=9")
        out = io.StringIO()
        with redirect_stdout(out):
            eq.main([FIXTURE, "--json"])
        parsed = [json.loads(line) for line in out.getvalue().splitlines()]
        self.assertEqual([p["execution"] for p in parsed], ["0", "1", "-"])


if __name__ == "__main__":
    unittest.main()
