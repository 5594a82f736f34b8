"""Deterministic generator for the benchmark's input tables.

Writes the ten tables graft's queries read (`region nation customer supplier
part orders lineitem events documents embeddings`), one parquet file each,
with the parquet schemas, row counts and value domains of the repository's
test fixtures (FIXTURES.md), so every query the benchmark runs returns rows.
Timestamps are stored as the fixture files store them: parquet
TIMESTAMP(MICROS) without a time zone. The documents have the fixtures'
vocabulary, lengths and near-duplicate density (tests/test_datagen.py checks
all of this). The data seed is fixed, so every checkout generates the same
bytes; the benchmark's `--seed` varies statement order, keys and batches.

Unlike the fixtures, lineitem keys are TPC-H shaped: each order has 1-7 lines
numbered from 1, so (l_orderkey, l_linenumber) is unique and can key a table,
and ship dates follow order dates, a sixth of them by more than four months.

    python3 graftbench/datagen.py <out dir> [scale]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
         "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
         "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
         "vector", "window"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_WEIGHTS = [0.14, 0.44, 0.14, 0.14, 0.14]
DAY_US = 86400 * 1000000
ORDER_DAY0 = np.datetime64("1995-01-01", "D")
ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - ORDER_DAY0).astype(int))
SHIP_DAYS = int((np.datetime64("2001-11-04", "D") - ORDER_DAY0).astype(int))
LINES_PER_ORDER = 4
DUP_SHARE = 0.05  # documents that repeat an earlier text with " dup" appended


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(day_offsets):
    return (ORDER_DAY0 + day_offsets.astype("timedelta64[D]")).astype("datetime64[us]")


def tables(scale):
    """Returns {name: pyarrow.Table} for the given TPC-H scale factor."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp = int(150000 * scale), int(10000 * scale)
    n_part, n_ord = int(200000 * scale), int(1500000 * scale)
    n_events = int(1000000 * scale)
    n_docs = n_vecs = min(500, max(50, int(50000 * scale)))  # as the fixtures: 500 up to sf0.1
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": ["NATION_%d" % i for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    partkey = np.arange(n_part, dtype=np.int64)
    retail = np.round(900.0 + (partkey % 1000) / 10.0, 2)
    names = [a + " " + b for a in ADJECTIVES for b in NOUNS]
    out["part"] = pa.table({
        "p_partkey": partkey,
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": ["Brand#%d" % b for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": retail})
    order_day = rng.integers(0, ORDER_DAYS + 1, n_ord)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(order_day),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    # trim or pad orders until lineitem has the fixtures' four rows per order
    excess = int(lines.sum()) - LINES_PER_ORDER * n_ord
    for k in rng.permutation(n_ord):
        if excess == 0:
            break
        step = 1 if excess > 0 else -1
        if 1 <= lines[k] - step <= 7:
            lines[k] -= step
            excess -= step
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.cumsum(lines) - lines
    l_number = (np.arange(len(l_order)) - np.repeat(starts, lines) + 1).astype(np.int32)
    n_li = len(l_order)
    l_part = rng.integers(0, n_part, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    # most lines ship within four months of the order, one in six much later
    ship_lag = rng.integers(1, 122, n_li) + (rng.random(n_li) < 1 / 6) * rng.integers(120, 600, n_li)
    out["lineitem"] = pa.table({
        "l_orderkey": l_order, "l_partkey": l_part,
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": l_number, "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(np.minimum(np.repeat(order_day, lines) + ship_lag, SHIP_DAYS))})
    ts0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_events)) + ts0
    out["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": rng.integers(0, max(1, n_events // 66), n_events).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2)),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n_events)]})
    out["documents"] = _documents(rng, n_docs)
    label = rng.integers(0, 10, n_vecs).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vec = centers[label] + 0.6 * rng.normal(0.0, 1.0, (n_vecs, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": label})
    return out


def _documents(rng, n):
    """Synthetic token texts, as the fixtures make them: 10-99 tokens drawn
    from a 30-word vocabulary, so many texts share most of their token set,
    and one in twenty is an earlier text with one to three " dup" tokens
    appended."""
    texts = []
    seen = set()
    while len(texts) < n:
        if texts and rng.random() < DUP_SHARE:
            toks = texts[rng.integers(0, len(texts))].split() + ["dup"] * int(rng.integers(1, 4))
        else:
            toks = [VOCAB[i] for i in rng.integers(0, len(VOCAB), rng.integers(10, 100))]
        text = " ".join(toks)
        if text not in seen:
            seen.add(text)
            texts.append(text)
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_WEIGHTS)],
        "source": ["src%d" % (i % 20) for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def write(out_dir, scale):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(scale).items():
        pq.write_table(table, os.path.join(out_dir, name + ".parquet"))


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.01)
