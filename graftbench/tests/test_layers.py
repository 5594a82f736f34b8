"""Interval arithmetic behind the per-layer split.

    python3 -m unittest discover -s graftbench/tests
"""
import os
import sys
import unittest
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import layers  # noqa: E402


class IntervalTest(unittest.TestCase):
    def test_union_of_overlapping_jobs(self):
        # graph_pagerank submits jobs concurrently: summing their durations
        # (5 + 4 + 3 + 2 = 14) overstates the time jobs were running (8)
        jobs = [(0, 5), (2, 6), (3, 6), (8, 10)]
        self.assertEqual(layers.union(jobs), [(0, 6), (8, 10)])
        self.assertEqual(layers.length(jobs), 8)
        self.assertEqual(layers.length([(0, 5), (5, 7)]), 7)
        self.assertEqual(layers.length([(3, 3), (4, 2)]), 0)

    def test_subtract_and_clip(self):
        self.assertEqual(layers.subtract([(0, 10)], [(2, 3), (5, 7), (9, 12)]),
                         [(0, 2), (3, 5), (7, 9)])
        self.assertEqual(layers.subtract([(0, 4)], [(-1, 5)]), [])
        self.assertEqual(layers.clip([(-2, 3), (4, 20), (30, 40)], 0, 10), [(0, 3), (4, 10)])

    def test_self_time(self):
        # a 10 ms statement with overlapping children covering [1, 4) and [6, 8)
        self.assertEqual(layers.self_time((0, 10), [(1, 3), (2, 4), (6, 8)]), 5)
        # children reaching outside the span count only inside it
        self.assertEqual(layers.self_time((0, 10), [(-5, 2), (9, 15)]), 7)
        self.assertEqual(layers.self_time((0, 10), []), 10)

    def test_attribution_by_containment(self):
        stmts = [(10.4, 20.2), (20.5, 30.0), (40.0, 50.0)]
        events = [(11, 20),      # inside the first
                  (10, 15),      # starts in the millisecond the first began
                  (21, 31),      # ends in the millisecond after the second
                  (25, 45),      # spans two statements: nobody's
                  (32, 38),      # between statements
                  (40, 50)]
        self.assertEqual(layers.assign(events, stmts), [0, 0, 1, None, None, 2])
        self.assertEqual(layers.assign([(8, 9)], stmts), [None])

    def test_percentile_leaves_ten_samples_beyond(self):
        values = list(range(100, 0, -1))  # 100 samples, unsorted
        p90, beyond = layers.percentile(values, 0.9)
        self.assertEqual((p90, beyond), (90, 10))
        p50, beyond = layers.percentile(values, 0.5)
        self.assertEqual((p50, beyond), (50, 50))
        self.assertEqual(layers.percentile([7.0], 0.9), (7.0, 0))


class SplitTest(unittest.TestCase):
    def result(self):
        # statement 0: a kv read, 100 ms: analysis [5, 15), two concurrent jobs
        # [20, 60) and [30, 80); statement 1: an Astro write whose spark.sql call
        # spans [200, 260): parsing there is Ddl's work, one job [220, 240)
        q = lambda phases: {"func": "collect", "ok": True, "phases": phases,
                            "graft_rule_ns": 1000000, "graft_rule_inv": 4, "graft_rule_eff": 1,
                            "exchanges": 2, "scan_rows": 40, "scan_parts": 2}
        return {
            "stmts": [{"i": 0, "s": 0.0, "e": 100.0, "ss": 0.0, "se": 16.0, "digest": "4:ab"},
                      {"i": 1, "s": 200.0, "e": 300.0, "ss": 200.0, "se": 260.0,
                       "digest": "1:cd"}],
            "probes": [{"s": 101.0, "e": 103.0, "files": 2, "deltas": 1,
                        "manifest_bytes": 500}],
            "trace": {
                "jobs": [{"id": 0, "s": 20, "e": 60, "ok": True},
                         {"id": 1, "s": 30, "e": 80, "ok": True},
                         {"id": 2, "s": 220, "e": 240, "ok": True},
                         {"id": 3, "s": 150, "e": 160, "ok": True}],
                "stages": [{"id": 0, "tasks": 4, "s": 20, "e": 60, "failed": False,
                            "run_ms": 120, "cpu_ns": 100000000, "gc_ms": 3,
                            "shuffle_write": 10, "shuffle_read": 10, "spill": 0},
                           {"id": 1, "tasks": 1, "s": 30, "e": 80, "failed": False,
                            "run_ms": 50, "cpu_ns": 40000000, "gc_ms": 0,
                            "shuffle_write": 0, "shuffle_read": 0, "spill": 0}],
                "queries": [q([["analysis", 5, 15]]),
                            q([["parsing", 200, 259], ["analysis", 260, 262]])],
                "batches": [],
                "failed_tasks": 0, "persist_peak_bytes": 0}}

    def test_layers_add_up_without_negatives(self):
        ops = [{"cls": "read.point", "table": "kv"}, {"cls": "write.insert", "table": "astro"}]
        m = layers.split(self.result(), ops, cpus=4)
        self.assertEqual(layers.check(m), [])
        self.assertEqual(m["trace.unclaimed_ms"], m["resid_ms"])
        self.assertEqual(m["trace.stmt_wall_ms"], 200.0)
        self.assertEqual(m["exec.job_union_ms"], 60 + 20)  # union, not 40 + 50 + 20
        self.assertEqual(m["plans.analysis_ms"], 10 + 2)
        self.assertEqual(m["plans.parse_ms"], 0)  # the Astro parse is Ddl's
        self.assertEqual(m["ddl.self_ms"], 60 - 20)  # sql call minus its job
        self.assertEqual(m["sources.read_self_ms"], 100 - 60 - 10)
        self.assertEqual(m["resid_ms"], 100 - 20 - 2 - 40)
        self.assertEqual(m["trace.unattributed_jobs"], 1)
        self.assertEqual(m["exec.slot_busy_ratio"], 170 / (80 * 4))
        self.assertEqual(m["exec.single_task_stages"], 1)
        self.assertEqual(m["sources.rows_examined_per_row"], 40 / 4)
        for k, v in m.items():
            if k.endswith("self_ms") or k == "resid_ms":
                self.assertGreaterEqual(v, 0, k)

    def overlapping(self):
        # one query statement, 100 ms: analysis [10, 30) overlaps the job [20, 60)
        return {"stmts": [{"i": 0, "s": 0.0, "e": 100.0, "digest": "1:ab"}],
                "trace": {"jobs": [{"id": 0, "s": 20, "e": 60, "ok": True}], "stages": [],
                          "queries": [{"phases": [["analysis", 10, 30]], "graft_rule_ns": 0,
                                       "graft_rule_inv": 0, "graft_rule_eff": 0}],
                          "batches": [], "failed_tasks": 0, "persist_peak_bytes": 0}}

    def test_check_catches_double_counting(self):
        ops = [{"cls": "query"}]
        m = layers.split(self.overlapping(), ops, cpus=4)
        self.assertEqual((m["exec.self_ms"], m["plans.self_ms"], m["resid_ms"]), (40, 10, 50))
        self.assertEqual(layers.check(m), [])
        # a split that forgets to take job time out of the phases counts
        # [20, 30) twice; its residual still makes the sum equal the wall time
        with mock.patch.object(layers, "subtract", lambda a, b: layers.union(a)):
            bad = layers.split(self.overlapping(), ops, cpus=4)
        self.assertEqual((bad["plans.self_ms"], bad["resid_ms"]), (20, 40))
        self.assertEqual(sum(bad[k] for k in layers.SELF_TIMES) + bad["resid_ms"], 100)
        self.assertEqual(len(layers.check(bad)), 1)

    def test_check_catches_negative_times(self):
        m = layers.split(self.overlapping(), [{"cls": "query"}], cpus=4)
        m["resid_ms"] = -1.0
        self.assertEqual(layers.check(m), ["negative layer times: resid_ms"])


if __name__ == "__main__":
    unittest.main()
