"""The generated input tables against the repository's test fixtures.

    python3 -m unittest discover -s graftbench/tests
    GRAFTBENCH_FIXTURES=<dir of the sf0.01 fixture parquet files> \
        python3 -m unittest discover -s graftbench/tests

The expected figures were measured with pyarrow on the sf0.01 fixture files.
Their timestamps are parquet TIMESTAMP(MICROS) without a time zone, which
Spark reads as TimestampNTZ; FIXTURES.md's `timestamp[ns]` and
`timestamp[ms]` are not what the files hold. With GRAFTBENCH_FIXTURES set,
the schemas and row counts are also compared with the files themselves.
"""
import datetime
import itertools
import os
import shutil
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import datagen  # noqa: E402

# {table: (rows at sf0.01, [(column, arrow type as read back from parquet)])}
FIXTURE_SF001 = {
    "region": (5, [("r_regionkey", "int32"), ("r_name", "string")]),
    "nation": (25, [("n_nationkey", "int32"), ("n_name", "string"),
                    ("n_regionkey", "int32")]),
    "customer": (1500, [("c_custkey", "int64"), ("c_name", "string"),
                        ("c_nationkey", "int32"), ("c_acctbal", "double"),
                        ("c_mktsegment", "string")]),
    "supplier": (100, [("s_suppkey", "int64"), ("s_name", "string"),
                       ("s_nationkey", "int32"), ("s_acctbal", "double")]),
    "part": (2000, [("p_partkey", "int64"), ("p_name", "string"), ("p_brand", "string"),
                    ("p_type", "string"), ("p_size", "int32"), ("p_retailprice", "double")]),
    "orders": (15000, [("o_orderkey", "int64"), ("o_custkey", "int64"),
                       ("o_orderstatus", "string"), ("o_totalprice", "double"),
                       ("o_orderdate", "timestamp[us]"), ("o_orderpriority", "string")]),
    "lineitem": (60000, [("l_orderkey", "int64"), ("l_partkey", "int64"),
                         ("l_suppkey", "int64"), ("l_linenumber", "int32"),
                         ("l_quantity", "double"), ("l_extendedprice", "double"),
                         ("l_discount", "double"), ("l_tax", "double"),
                         ("l_returnflag", "string"), ("l_linestatus", "string"),
                         ("l_shipdate", "timestamp[us]")]),
    "events": (10000, [("event_id", "int64"), ("ts", "timestamp[us]"), ("user_id", "int64"),
                       ("event_type", "string"), ("value", "double"), ("props", "string")]),
    "documents": (500, [("doc_id", "int64"), ("text", "string"), ("lang", "string"),
                        ("source", "string"), ("n_chars", "int64")]),
    "embeddings": (500, [("vec_id", "int64"), ("embedding", "list<element: float>"),
                         ("label", "int32")]),
}
TIMESTAMP_LOGICAL = ("Timestamp(isAdjustedToUTC=false, timeUnit=microseconds, "
                     "is_from_converted_type=false, force_set_converted_type=false)")
# near-duplicate statistics of the sf0.01 documents: token-set pairs with
# Jaccard > 0.7 and > 0.9, pairs with identical token sets, texts with "dup"
DOC_PAIRS_07, DOC_PAIRS_09, DOC_SAME_SET, DOC_DUP_TEXTS = 48248, 5092, 444, 25


def day(s):
    return datetime.datetime.fromisoformat(s)


class GeneratedTablesTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.dir = tempfile.mkdtemp()
        datagen.write(cls.dir, 0.01)
        cls.files = {t: pq.ParquetFile(os.path.join(cls.dir, t + ".parquet"))
                     for t in FIXTURE_SF001}

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.dir)

    def column(self, table, name):
        return self.files[table].read([name]).column(0).to_pylist()

    def test_schemas_and_counts_match_the_fixtures(self):
        for table, (rows, cols) in FIXTURE_SF001.items():
            f = self.files[table]
            self.assertEqual(f.metadata.num_rows, rows, table)
            self.assertEqual([(c.name, str(c.type)) for c in f.schema_arrow], cols, table)
            for i, (name, t) in enumerate(cols):
                if t.startswith("timestamp"):
                    self.assertEqual(str(f.schema.column(i).logical_type), TIMESTAMP_LOGICAL,
                                     table + "." + name)

    @unittest.skipUnless(os.environ.get("GRAFTBENCH_FIXTURES"), "GRAFTBENCH_FIXTURES not set")
    def test_schemas_and_counts_match_fixture_files(self):
        for table in FIXTURE_SF001:
            want = pq.ParquetFile(os.path.join(os.environ["GRAFTBENCH_FIXTURES"],
                                               table + ".parquet"))
            got = self.files[table]
            self.assertEqual(got.metadata.num_rows, want.metadata.num_rows, table)
            self.assertEqual(got.schema.to_arrow_schema(), want.schema.to_arrow_schema(), table)
            self.assertEqual([str(got.schema.column(i).logical_type) for i in range(len(got.schema))],
                             [str(want.schema.column(i).logical_type)
                              for i in range(len(want.schema))], table)

    def test_value_domains(self):
        self.assertLessEqual(set(self.column("orders", "o_orderstatus")), {"F", "O", "P"})
        self.assertLessEqual(set(self.column("orders", "o_orderpriority")),
                             {"1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"})
        self.assertLessEqual(set(self.column("lineitem", "l_returnflag")), {"A", "N", "R"})
        self.assertLessEqual(set(self.column("lineitem", "l_linestatus")), {"F", "O"})
        ship = self.column("lineitem", "l_shipdate")
        self.assertGreaterEqual(min(ship), day("1995-01-02"))
        self.assertLessEqual(max(ship), day("2001-11-04"))
        ordered = self.column("orders", "o_orderdate")
        self.assertGreaterEqual(min(ordered), day("1995-01-01"))
        self.assertLessEqual(max(ordered), day("2001-08-01"))
        ts = self.column("events", "ts")
        self.assertGreaterEqual(min(ts), day("2024-01-01"))
        self.assertLess(max(ts), day("2024-01-31"))
        self.assertLessEqual(set(self.column("events", "event_type")),
                             {"click", "error", "purchase", "signup", "view"})
        self.assertLessEqual(set(self.column("documents", "lang")), {"de", "en", "es", "fr", "zh"})
        self.assertLessEqual(set(self.column("documents", "source")),
                             {"src%d" % i for i in range(20)})
        self.assertEqual({len(v) for v in self.column("embeddings", "embedding")}, {64})
        self.assertEqual(set(self.column("embeddings", "label")), set(range(10)))

    def test_lineitem_keys_are_unique(self):
        keys = list(zip(self.column("lineitem", "l_orderkey"),
                        self.column("lineitem", "l_linenumber")))
        self.assertEqual(len(set(keys)), len(keys))

    def test_documents_are_as_near_duplicate_as_the_fixtures(self):
        texts = self.column("documents", "text")
        self.assertEqual(len(set(texts)), len(texts))
        lengths = [len(t) for t in texts]
        self.assertGreaterEqual(min(lengths), 40)
        self.assertLessEqual(max(lengths), 600)
        sets = [frozenset(t.split()) for t in texts]
        jac = [len(a & b) / len(a | b) for a, b in itertools.combinations(sets, 2)]
        self.assertAlmostEqual(sum(j > 0.7 for j in jac) / DOC_PAIRS_07, 1.0, delta=0.15)
        self.assertAlmostEqual(sum(j > 0.9 for j in jac) / DOC_PAIRS_09, 1.0, delta=0.3)
        self.assertAlmostEqual(sum(a == b for a, b in itertools.combinations(sets, 2))
                               / DOC_SAME_SET, 1.0, delta=0.3)
        self.assertAlmostEqual(sum("dup" in s for s in sets) / DOC_DUP_TEXTS, 1.0, delta=0.4)


if __name__ == "__main__":
    unittest.main()
