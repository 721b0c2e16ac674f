#!/usr/bin/env python3
"""Tests of the benchmark's failure accounting and tail statistic.

    python3 perfbench/test_perfbench.py

The first tests feed `end_to_end` made-up harness reports. The last one
builds if needed and runs the harness for real on one declared query and
one name that is not declared, so the second throws inside the build call.
"""
import json
import os
import unittest

import run


def execution(query, total, error=None, pass_=0):
    return {"pass": pass_, "query": query, "build_s": total, "plan_s": 0.0,
            "exec_s": 0.0, "total_s": total, "error": error}


def check(query, fingerprint="1/1", error=None):
    return {"query": query, "rows": None if error else 1,
            "fingerprint": None if error else fingerprint,
            "float_columns": [], "seconds": 0.1, "error": error}


EXPECTED = {"a": {"rows": 1, "fingerprint": "1/1"},
            "b": {"rows": 1, "fingerprint": "1/1"}}


class Accounting(unittest.TestCase):
    def test_throwing_query_is_counted_and_named(self):
        rep = {"setup_s": 1.0, "pass_walls": [3.0],
               "checks": [check("a"), check("b", error="boom")],
               "executions": [execution("a", 1.0),
                              execution("b", 0.5, error="java.lang.Error: boom")]}
        m, _, failures, attempted, failed = run.end_to_end(rep, EXPECTED)
        self.assertEqual((attempted, failed), (4, 2))
        self.assertEqual(m["failed_frac"][0], 0.5)
        self.assertEqual(set(failures), {"b"})
        self.assertIn("boom", failures["b"])
        # the failed execution's time is not a latency sample
        value, _, samples = m["query_p50_s"]
        self.assertEqual((value, samples), (1.0, 1))

    def test_wrong_output_fails_every_execution_of_the_query(self):
        rep = {"setup_s": 1.0, "pass_walls": [2.0, 2.0],
               "checks": [check("a"), check("b", fingerprint="9/9")],
               "executions": [execution("a", 1.0), execution("b", 1.0),
                              execution("a", 1.0, pass_=1),
                              execution("b", 1.0, pass_=1)]}
        _, _, failures, attempted, failed = run.end_to_end(rep, EXPECTED)
        self.assertEqual((attempted, failed), (6, 3))
        self.assertIn("output check", failures["b"])

    def test_tail_has_ten_samples_beyond_or_is_the_maximum(self):
        self.assertEqual(run.tail(list(range(30))), (19, 100.0 * 20 / 30, 10))
        self.assertEqual(run.tail(list(range(20))), (19, 100.0, 0))


class Harness(unittest.TestCase):
    def test_undeclared_query_throws_and_is_counted(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        with open(os.path.join(run.HERE, "workloads.json")) as f:
            spec = json.load(f)
        run.build()
        hr = spec["workloads"]["hr_and_streams"]["expected"]
        workload = {"queries": ["q13_count", "no_such_query"],
                    "expected": {"q13_count": hr["q13_count"]}}
        line = run.run_workload("selftest", workload, 1, 1, 0, bench,
                                spec["layers"])
        self.assertFalse(line["correct"])
        self.assertEqual((line["attempted"], line["failed"]), (4, 2))


if __name__ == "__main__":
    unittest.main()
