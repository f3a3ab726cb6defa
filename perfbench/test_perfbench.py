#!/usr/bin/env python3
"""Tests of the benchmark itself. Run from the root of a checkout:

    python3 perfbench/test_perfbench.py

The counter test builds the harness and runs three queries for five
passes in one JVM, two of them traced (about a minute on 4 cores)."""
import json
import os
import sys
import time
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


class FailureRecordTest(unittest.TestCase):
    def test_failures_carry_name_class_and_time_and_escape(self):
        name = 'q_"odd\\name\n'
        execs = [
            {"name": name, "pass": 0, "ok": False, "wall_s": 1.5,
             "error_class": "java.lang.IllegalStateException", "error": "boom\t"},
            {"name": "q_a", "pass": 1, "ok": True, "wall_s": 0.25, "rows": 3, "digest": "x"},
            {"name": "q_b", "pass": 1, "ok": True, "wall_s": 0.5, "rows": 3, "digest": "y"},
        ]
        pinned = {"q_a": {"rows": 3, "digest": "x"}, "q_b": {"rows": 3, "digest": "z"}}
        fails = run.failures(execs, pinned)
        back = json.loads(json.dumps(fails))
        self.assertEqual([f["query"] for f in back], [name, "q_b"])
        self.assertEqual([f["error_class"] for f in back],
                         ["java.lang.IllegalStateException", "DigestMismatch"])
        self.assertEqual([f["time_to_failure_s"] for f in back], [1.5, 0.5])


class CounterDeterminismTest(unittest.TestCase):
    """Jobs, tasks, shuffle bytes and records read repeat exactly from
    one pass to the next, which lets a change cite them beside wall time."""

    def test_counters_repeat_across_passes(self):
        cp = run.build()
        for data, queries in run.COUNTER_QUERIES.items():
            rec = run.harness(cp, [
                "--data", run.dataset(data), "--queries", ",".join(queries),
                "--seed", "0", "--passes", "4", "--trace", "1", "--model", "0",
                "--spans", os.path.join(run.WORK, "spans-counters.jsonl")],
                time.time() + 600, "counters")
            self.assertIsNotNone(rec, "harness failed")
            self.assertEqual(run.failures(rec["execs"], run.load_expected()[data]), [])
            by_pass = {}
            for e in rec["execs"]:
                if e["traced"]:
                    by_pass.setdefault(e["pass"], {})[e["name"]] = {k: e[k] for k in run.COUNTERS}
            self.assertEqual(sorted(by_pass), [1, 4])  # traced passes (ABBA)
            for q in queries:
                self.assertGreater(by_pass[1][q]["jobs"], 0, q)
                self.assertEqual(by_pass[1][q], by_pass[4][q], q)


if __name__ == "__main__":
    unittest.main()
