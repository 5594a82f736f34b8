"""Result checking: digests, the kv model, and error_rate.

    python3 -m unittest discover -s graftbench/tests
"""
import datetime
import decimal
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import canon  # noqa: E402
import compare  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


class DigestTest(unittest.TestCase):
    def test_ignores_row_and_column_order(self):
        a = canon.digest(["b", "A"], [(1, "x"), (2, "y")])
        b = canon.digest(["a", "B"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)
        self.assertTrue(a.startswith("2:"))

    def test_value_tags(self):
        self.assertEqual(canon.value(None), "~")
        self.assertEqual(canon.value(True), "b:1")
        self.assertEqual(canon.value(-0.0), canon.value(0.0))
        self.assertEqual(canon.value(1.5), "f:3ff8000000000000")
        self.assertEqual(canon.value(decimal.Decimal("2.500")), "d:2.5")
        self.assertEqual(canon.value(datetime.datetime(1970, 1, 1, 0, 0, 1)), "t:1000000")
        self.assertEqual(canon.value(datetime.date(1970, 1, 3)), "D:2")
        self.assertEqual(canon.value("a\nb"), "s:a\\nb")
        self.assertNotEqual(canon.value(1), canon.value(1.0))


def fake_run(digests):
    """A harness result with one statement per digest, all 10 ms long."""
    return {"stmts": [{"i": i, "s": 10.0 * i, "e": 10.0 * i + 10, "cs": 4.0 * i,
                       "ce": 4.0 * i + 4, "digest": d} for i, d in enumerate(digests)],
            "session_ms": 1000.0, "warm_ms": 0.0, "setup_ms": [10.0, 20.0, 30.0],
            "vmhwm_kb": 1024}


def error_rate(result, plan, expect):
    attempted, failed, _ = run.check(result, expect)
    m, _ = run.end_to_end(result, plan, None, failed, attempted)
    return m["error_rate"]


class ErrorRateTest(unittest.TestCase):
    def test_corrupted_expected_digest_counts(self):
        plan = {"ops": [{"cls": "query"}] * 4, "pass_len": 4}
        digests = [canon.digest(["x"], [(i,)]) for i in range(4)]
        expect = dict(enumerate(digests))
        self.assertEqual(error_rate(fake_run(digests), plan, expect), 0.0)
        expect[2] = expect[2][:-1] + ("0" if expect[2][-1] != "0" else "1")
        self.assertEqual(error_rate(fake_run(digests), plan, expect), 0.25)

    def test_raised_operation_counts(self):
        plan = {"ops": [{"cls": "query"}] * 2, "pass_len": 2}
        result = fake_run(["1:aa", "1:bb"])
        del result["stmts"][1]["digest"]
        result["stmts"][1]["err"] = "boom"
        self.assertEqual(error_rate(result, plan, {0: "1:aa"}), 0.5)

    def test_corrupted_model_row_counts(self):
        # a kv point read checked against the generator's model: the engine's
        # rows digest to the model's, unless a model row is corrupted
        rows = [(7, 1, 42, 3.0, 2850.0), (7, 2, 43, 1.0, 950.1)]
        model = workloads.Model(rows, lambda r: (r[0], r[1]))
        engine = canon.digest(workloads.KV_COLS, rows)
        plan = {"ops": [{"cls": "read.point", "table": "kv"}], "pass_len": 1}
        expect = {0: canon.digest(workloads.KV_COLS, model.range(7, 7))}
        self.assertEqual(error_rate(fake_run([engine]), plan, expect), 0.0)
        model.version += 1
        model.put((7, 2), (7, 2, 43, 2.0, 950.1))
        expect = {0: canon.digest(workloads.KV_COLS, model.range(7, 7))}
        self.assertEqual(error_rate(fake_run([engine]), plan, expect), 1.0)
        # time travel still sees the uncorrupted version
        self.assertEqual(canon.digest(workloads.KV_COLS, model.range(7, 7, version=0)), engine)


class PlanTest(unittest.TestCase):
    def test_same_seed_same_statements(self):
        oracle = {q: "1:00" for q in workloads.CHECKED_QUERIES}
        a, _, _ = workloads.plan("olap_read", 3, "/d", "/w", "/r", 10, 0, 4, 3, oracle)
        b, _, _ = workloads.plan("olap_read", 3, "/d", "/w", "/r", 10, 0, 4, 3, oracle)
        c, _, _ = workloads.plan("olap_read", 4, "/d", "/w", "/r", 10, 0, 4, 3, oracle)
        self.assertEqual(a["ops"], b["ops"])
        self.assertNotEqual(a["ops"], c["ops"])
        first = [op["name"] for op in a["ops"][:a["pass_len"]]]
        self.assertEqual(sorted(first), sorted(workloads.OLAP))


class HostKeyTest(unittest.TestCase):
    def test_comparison_refuses_other_hosts(self):
        key = {"nproc": 4, "cpus": 4, "max_heap_mb": 3072, "jvm": "j", "spark": "4.1.2",
               "scala": "2.13.17", "xmx": "3g", "source": "a", "seed": 1,
               "workload": "kv_keyed", "trace": 0}
        same = [{"host_key": dict(key, seed=s, source=src)} for s, src in ((1, "a"), (2, "b"))]
        compare.host(same)  # seed and source may differ
        with self.assertRaises(SystemExit):
            compare.host(same + [{"host_key": dict(key, nproc=32)}])


if __name__ == "__main__":
    unittest.main()
