"""Seeded statement sequences for the three workloads, with their expected results.

`plan(workload, seed, ...)` returns the plan the harness executes (see
harness/graftbench/Harness.scala), the expected digest of every operation
whose result is checked, and kv_keyed's byte accounting. The seed fixes
statement order, keys and batch contents; the data tables are fixed
(datagen.py).

Every operation carries a `cls` naming its sample class (`read.point`,
`write.merge`, `query`, ...) and, on kv_keyed, the `table` it targets:
`astro` for the `MAPPED BY` table, which the injected parser hands to Ddl,
and `kv` for the `USING graft_kv` table.
"""
import bisect
import os
import random

import pyarrow.parquet as pq

import canon

TPCH = ["q1_pricing", "q2_min_cost_supplier", "q3_shipping", "q4_order_priority",
        "q5_supplier_volume", "q6_forecast", "q7_nation_volume", "q8_market_share",
        "q9_profit_by_nation", "q10_returned", "q11_important_parts", "q12_late_priority",
        "q13_order_counts", "q14_promo_share", "q15_top_supplier", "q16_supplier_counts",
        "q17_small_qty", "q18_large_orders", "q19_disjunctive", "q20_promo_suppliers",
        "q21_waiting", "q22_idle_balance"]
OLAP_EXTRA = ["join_semi_anti", "agg_rollup", "window_rank", "sort_limit"]
OLAP = TPCH + OLAP_EXTRA
LLM = ["dedup_exact", "dedup_minhash", "dedup_simhash", "dedup_components_lsh",
       "graph_pagerank", "sim_ann_ivf", "sim_ann_pq", "text_bpe_merges", "search_bm25",
       "stream_dedup", "stream_join"]
WARMUP = ["filter_pred", "agg_groupby"]
WORKLOADS = ("olap_read", "kv_keyed", "llm_pipeline")
# queries whose expected digests come from DuckDB over SparkEntry.oracleSql
CHECKED_QUERIES = OLAP + LLM

KV = "graft.bench.li"
KV_COLS = ["l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_extendedprice"]
KV_WIDTH = 8 + 4 + 8 + 8 + 8
KV_KEY_WIDTH = 8 + 4
ASTRO = "bench_orders"
ASTRO_READ_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                   "o_orderpriority"]
ASTRO_KEY_WIDTH = 8
# One kv_keyed round: the Astro table is recreated, its four reads and four
# writes alternate (a read before each write, write types in a fixed order) with
# the 24 kv operations shuffled in between, three per gap, and OPTIMIZE ends the
# round. Astro read and write cost grows with the mutations logged since the
# table was created, so fixing where they fall keeps the seed from moving the
# round's cost; the seed picks the read types' order, the kv order, and every key.
KV_OPS = {"read.point": 4, "read.range": 4, "read.agg": 4, "read.version": 4,
          "write.insert": 2, "write.update": 2, "write.delete": 2, "write.merge": 2}
ASTRO_READS = ["read.point", "read.range", "read.agg", "read.version"]
ASTRO_WRITES = ["write.insert", "write.update", "write.delete", "write.merge"]
RECENT_SHARE = 0.2
# passes every run holds at least: kv_keyed's rounds are short and still
# speeding up after the warm-up round, so it reports the median of three
MIN_PASSES = {"olap_read": 1, "kv_keyed": 3, "llm_pipeline": 1}


def _query(name):
    return {"kind": "query", "name": name, "cls": "query"}


def _passes(rng, names, n):
    ops = []
    for _ in range(n):
        order = list(names)
        rng.shuffle(order)
        ops += [_query(q) for q in order]
    return ops


def plan(workload, seed, data_dir, warm_dir, run_dir, seconds, trace, cpus, setup_reps, oracle):
    """Returns (plan, expect, acct): the harness plan, {op index: digest}, and
    for kv_keyed, per op, the natural-width bytes the writes carried so far and,
    at each round's end, the natural-width bytes of both tables' live rows.

    `oracle` maps a query name to its expected digest."""
    rng = random.Random("%s/%d" % (workload, seed))
    base = {"workload": workload, "data_dir": data_dir, "warm_dir": warm_dir, "run_dir": run_dir,
            "seconds": seconds, "trace": bool(trace), "cpus": cpus,
            "setup_reps": setup_reps, "min_passes": MIN_PASSES[workload]}
    if workload in ("olap_read", "llm_pipeline"):
        names = OLAP if workload == "olap_read" else LLM
        # enough passes for the longest run; the harness stops at a pass boundary
        ops = _passes(rng, names, max(3, int(seconds) // 5))
        # one untimed pass over small tables first, so the timed passes do not
        # pay each query's first-run cost (code generation, JIT, class loading)
        # in whichever order the seed gives
        p = dict(base, warmup=[_query(q) for q in names], setup=[_query(q) for q in WARMUP],
                 ops=ops, pass_len=len(names))
        return p, {i: oracle[op["name"]] for i, op in enumerate(ops)}, None
    return _kv_plan(rng, base, data_dir, run_dir, seconds)


class Model:
    """Versioned in-memory copy of one keyed table: key -> [(version, row or None)]."""

    def __init__(self, rows, key_of):
        self.version = 0
        self.floor = 0
        self.hist = {key_of(r): [(0, r)] for r in rows}
        self.keys = sorted(self.hist)
        self.recent = []

    def get(self, key, version=None):
        h = self.hist.get(key)
        if not h:
            return None
        if version is None:
            return h[-1][1]
        row = None
        for v, r in h:
            if v > version:
                break
            row = r
        return row

    def put(self, key, row):
        if key not in self.hist:
            bisect.insort(self.keys, key)
            self.hist[key] = []
        self.hist[key].append((self.version, row))
        if row is not None:
            self.recent = (self.recent + [key])[-32:]

    def range(self, lo, hi, version=None):
        """Live rows with lo <= key[0] <= hi (keys are tuples whose first
        element is the range column)."""
        i = bisect.bisect_left(self.keys, (lo,))
        out = []
        while i < len(self.keys) and self.keys[i][0] <= hi:
            r = self.get(self.keys[i], version)
            if r is not None:
                out.append(r)
            i += 1
        return out

    def live_count(self):
        return sum(1 for h in self.hist.values() if h[-1][1] is not None)


def _lit(v):
    if isinstance(v, str):
        return "'%s'" % v.replace("'", "''")
    if isinstance(v, float):
        return repr(v) + "D"
    return str(v)


def _price(partkey, qty):
    return round(qty * round(900.0 + (partkey % 1000) / 10.0, 2), 2)


def _agg(rows, sum_col, max_col):
    """count(*), sum(sum_col), max(max_col) as SQL computes them (NULL when empty)."""
    if not rows:
        return [(0, None, None)]
    return [(len(rows), sum(r[sum_col] for r in rows), max(r[max_col] for r in rows))]


def _kv_plan(rng, base, data_dir, run_dir, seconds):
    kv_dir = os.path.join(run_dir, "kv_lineitem")
    li = pq.read_table(os.path.join(data_dir, "lineitem.parquet"), columns=KV_COLS).to_pylist()
    od = pq.read_table(os.path.join(data_dir, "orders.parquet")).to_pylist()

    def astro_row_width(r):
        """Natural width of a stored orders row; o_orderdate is not read back."""
        return 8 + 8 + len(r[2]) + 8 + 8 + len(r[4])

    # `epochs 'true'` stamps every commit, plain appends included, so the bulk
    # load is epoch 0 and each write after it adds one: what the model assumes
    create_kv = ("CREATE TABLE %s (l_orderkey BIGINT, l_linenumber INT, l_partkey BIGINT, "
                 "l_quantity DOUBLE, l_extendedprice DOUBLE) USING graft_kv OPTIONS "
                 "(path '%s', mor 'true', epochs 'true', sortBy 'l_orderkey,l_linenumber')"
                 % (KV, kv_dir))
    load_kv = ("INSERT INTO %s SELECT %s FROM parquet.`%s`"
               % (KV, ", ".join(KV_COLS), os.path.join(data_dir, "lineitem.parquet")))
    create_astro = ("CREATE TABLE %s MAPPED BY '%s' KEYS (o_orderkey)"
                    % (ASTRO, os.path.join(data_dir, "orders.parquet")))
    setup = [{"kind": "rmdir", "path": kv_dir},
             {"kind": "sql", "text": "DROP TABLE IF EXISTS " + KV},
             {"kind": "sql", "text": create_kv},
             {"kind": "sql", "text": load_kv},
             {"kind": "sql", "text": "DROP TABLE IF EXISTS " + ASTRO},
             {"kind": "sql", "text": create_astro},
             {"kind": "sql", "text": "SELECT count(*) FROM " + KV},
             {"kind": "sql", "text": "SELECT count(*) FROM graft." + ASTRO}]

    def generate(rng, rounds):
        """(ops, expect, acct) for `rounds` rounds on freshly loaded tables."""
        kv = Model([tuple(r[c] for c in KV_COLS) for r in li], lambda r: (r[0], r[1]))
        astro_base = [tuple(r[c] for c in ASTRO_READ_COLS) for r in od]
        kv_next = [kv.keys[-1][0] + 1]  # next unused order key, per table
        astro_next = [len(astro_base)]
        ops, expect, acct = [], {}, []
        carried = [0]  # natural-width bytes the writes carried

        def add(op, table, cls, rows=None, cols=None):
            op.update({"kind": "sql", "table": table, "cls": cls})
            if rows is not None:
                expect[len(ops)] = canon.digest(cols, rows)
            ops.append(op)
            acct.append((carried[0], None))

        def pick(model, lo_key, hi_key):
            if model.recent and rng.random() < RECENT_SHARE:
                return rng.choice(model.recent)[0]
            return rng.randint(lo_key, hi_key)

        def pick_live(model, width):
            """A range start whose [start, start + width] holds at least one live row."""
            while True:
                lo = pick(model, 0, model.keys[-1][0])
                if model.range(lo, lo + width):
                    return lo

        # ---- kv table operations ----
        def kv_op(cls):
            sel = "SELECT %s FROM %s" % (", ".join(KV_COLS), KV)
            if cls == "read.point":
                k = pick(kv, 0, kv.keys[-1][0])
                add({"text": "%s WHERE l_orderkey = %d" % (sel, k)}, "kv", cls,
                    kv.range(k, k), KV_COLS)
            elif cls == "read.range":
                lo = pick(kv, 0, kv.keys[-1][0])
                add({"text": "%s WHERE l_orderkey BETWEEN %d AND %d" % (sel, lo, lo + 10)},
                    "kv", cls, kv.range(lo, lo + 10), KV_COLS)
            elif cls == "read.agg":
                lo = pick(kv, 0, kv.keys[-1][0])
                add({"text": "SELECT count(*) AS n, sum(l_quantity) AS q, max(l_extendedprice) "
                             "AS p FROM %s WHERE l_orderkey BETWEEN %d AND %d" % (KV, lo, lo + 500)},
                    "kv", cls, _agg(kv.range(lo, lo + 500), 3, 4), ["n", "q", "p"])
            elif cls == "read.version":
                v = rng.randint(kv.floor, kv.version)
                lo = pick(kv, 0, kv.keys[-1][0])
                add({"text": "SELECT count(*) AS n, sum(l_quantity) AS q, max(l_extendedprice) "
                             "AS p FROM %s VERSION AS OF %d WHERE l_orderkey BETWEEN %d AND %d"
                             % (KV, v, lo, lo + 200)},
                    "kv", cls, _agg(kv.range(lo, lo + 200, v), 3, 4), ["n", "q", "p"])
            elif cls == "write.insert":
                rows = []
                for _ in range(rng.randint(1, 3)):
                    okey = new_kv_order()
                    for line in range(1, rng.randint(1, 7) + 1):
                        part = rng.randint(0, 1999)
                        qty = float(rng.randint(1, 50))
                        rows.append((okey, line, part, qty, _price(part, qty)))
                kv.version += 1
                for r in rows:
                    kv.put((r[0], r[1]), r)
                carried[0] += KV_WIDTH * len(rows)
                add({"text": "INSERT INTO %s VALUES %s" % (KV, ", ".join(
                    "(" + ", ".join(_lit(v) for v in r) + ")" for r in rows)),
                    "probe": kv_dir}, "kv", cls)
            elif cls == "write.update":
                lo = pick_live(kv, 3)
                rows = kv.range(lo, lo + 3)
                kv.version += 1
                for r in rows:
                    kv.put((r[0], r[1]), r[:3] + (r[3] + 1.0,) + r[4:])
                carried[0] += KV_WIDTH * len(rows)
                add({"text": "UPDATE %s SET l_quantity = l_quantity + 1 WHERE l_orderkey "
                             "BETWEEN %d AND %d" % (KV, lo, lo + 3), "probe": kv_dir}, "kv", cls)
            elif cls == "write.delete":
                lo = pick_live(kv, 1)
                rows = kv.range(lo, lo + 1)
                kv.version += 1
                for r in rows:
                    kv.put((r[0], r[1]), None)
                carried[0] += KV_KEY_WIDTH * len(rows)
                add({"text": "DELETE FROM %s WHERE l_orderkey BETWEEN %d AND %d" % (KV, lo, lo + 1),
                     "probe": kv_dir}, "kv", cls)
            elif cls == "write.merge":
                lo = pick_live(kv, 2)
                src = []
                for r in kv.range(lo, lo + 2)[:3]:
                    qty = float(rng.randint(1, 50))
                    src.append((r[0], r[1], r[2], qty, _price(r[2], qty)))
                okey = new_kv_order()
                for line in range(1, rng.randint(1, 3) + 1):
                    part = rng.randint(0, 1999)
                    qty = float(rng.randint(1, 50))
                    src.append((okey, line, part, qty, _price(part, qty)))
                kv.version += 1
                for r in src:
                    kv.put((r[0], r[1]), r)
                carried[0] += KV_WIDTH * len(src)
                values = ", ".join("(%dL, %d, %dL, %s, %s)" % (r[0], r[1], r[2], _lit(r[3]),
                                                               _lit(r[4])) for r in src)
                add({"text": "MERGE INTO %s t USING (SELECT * FROM VALUES %s AS s(%s)) s "
                             "ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber "
                             "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
                             % (KV, values, ", ".join(KV_COLS)), "probe": kv_dir}, "kv", cls)

        def new_kv_order():
            kv_next[0] += 1
            return kv_next[0] - 1

        # ---- Astro (MAPPED BY) table operations ----
        astro = None

        def astro_reset():
            nonlocal astro
            astro = Model(astro_base, lambda r: (r[0],))
            add({"text": "DROP TABLE " + ASTRO}, "astro", "maint.reset")
            add({"text": create_astro}, "astro", "maint.reset")

        def astro_new_row(key):
            return (key, rng.randint(0, 1499), rng.choice("FOP"),
                    round(rng.uniform(1000.0, 500000.0), 2),
                    rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]))

        def astro_values(r, date="TIMESTAMP_NTZ '1998-01-01 00:00:00'"):
            return "(%dL, %dL, %s, %s, %s, %s)" % (r[0], r[1], _lit(r[2]), _lit(r[3]), date,
                                                   _lit(r[4]))

        def astro_op(cls):
            hi = astro.keys[-1][0]
            sel = "SELECT %s FROM graft.%s" % (", ".join(ASTRO_READ_COLS), ASTRO)
            agg = "SELECT count(*) AS n, sum(o_custkey) AS c, max(o_totalprice) AS p FROM graft." \
                  + ASTRO
            if cls == "read.point":
                k = pick(astro, 0, hi)
                add({"text": "%s WHERE o_orderkey = %d" % (sel, k)}, "astro", cls,
                    astro.range(k, k), ASTRO_READ_COLS)
            elif cls == "read.range":
                lo = pick(astro, 0, hi)
                add({"text": "%s WHERE o_orderkey BETWEEN %d AND %d" % (sel, lo, lo + 20)},
                    "astro", cls, astro.range(lo, lo + 20), ASTRO_READ_COLS)
            elif cls == "read.agg":
                lo = pick(astro, 0, hi)
                add({"text": "%s WHERE o_orderkey BETWEEN %d AND %d" % (agg, lo, lo + 500)},
                    "astro", cls, _agg(astro.range(lo, lo + 500), 1, 3), ["n", "c", "p"])
            elif cls == "read.version":
                v = rng.randint(0, astro.version)
                lo = pick(astro, 0, hi)
                add({"text": "SELECT count(*) AS n, sum(o_custkey) AS c, max(o_totalprice) AS p "
                             "FROM graft.%s VERSION AS OF %d WHERE o_orderkey BETWEEN %d AND %d"
                             % (ASTRO, v, lo, lo + 200)},
                    "astro", cls, _agg(astro.range(lo, lo + 200, v), 1, 3), ["n", "c", "p"])
            elif cls == "write.insert":
                rows = [astro_new_row(astro_next[0] + i) for i in range(rng.randint(1, 4))]
                astro_next[0] += len(rows)
                _astro_put(rows)
                add({"text": "INSERT INTO %s VALUES %s"
                             % (ASTRO, ", ".join(astro_values(r) for r in rows))}, "astro", cls)
            elif cls == "write.update":
                lo = pick_live(astro, 3)
                rows = [(r[0], r[1] + 1) + r[2:] for r in astro.range(lo, lo + 3)]
                _astro_put(rows)
                add({"text": "UPDATE %s SET o_custkey = o_custkey + 1 WHERE o_orderkey BETWEEN "
                             "%d AND %d" % (ASTRO, lo, lo + 3)}, "astro", cls)
            elif cls == "write.delete":
                lo = pick_live(astro, 1)
                rows = astro.range(lo, lo + 1)
                astro.version += 1
                for r in rows:
                    astro.put((r[0],), None)
                carried[0] += ASTRO_KEY_WIDTH * len(rows)
                add({"text": "DELETE FROM %s WHERE o_orderkey BETWEEN %d AND %d"
                             % (ASTRO, lo, lo + 1)}, "astro", cls)
            elif cls == "write.merge":
                lo = pick_live(astro, 2)
                src = [astro_new_row(r[0]) for r in astro.range(lo, lo + 2)[:2]]
                src.append(astro_new_row(astro_next[0]))
                astro_next[0] += 1
                _astro_put(src)
                add({"text": "MERGE INTO %s t USING (SELECT * FROM VALUES %s AS s(o_orderkey, "
                             "o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority)) s "
                             "ON s.o_orderkey = t.o_orderkey WHEN MATCHED THEN UPDATE SET * "
                             "WHEN NOT MATCHED THEN INSERT *"
                             % (ASTRO, ", ".join(astro_values(r) for r in src))}, "astro", cls)

        def _astro_put(rows):
            astro.version += 1
            for r in rows:
                astro.put((r[0],), r)
                carried[0] += astro_row_width(r)

        for _ in range(rounds):
            astro_reset()
            kv_todo = [c for c, n in KV_OPS.items() for _ in range(n)]
            rng.shuffle(kv_todo)
            reads = list(ASTRO_READS)
            rng.shuffle(reads)
            gap = len(kv_todo) // len(ASTRO_WRITES)
            for j, write in enumerate(ASTRO_WRITES):
                astro_op(reads[j])
                astro_op(write)
                for cls in kv_todo[j * gap:(j + 1) * gap]:
                    kv_op(cls)
            kv.floor = kv.version
            add({"text": "OPTIMIZE " + KV, "probe": kv_dir}, "kv", "write.optimize")
            live = KV_WIDTH * kv.live_count() + sum(
                astro_row_width(h[-1][1]) for h in astro.hist.values() if h[-1][1] is not None)
            acct[-1] = (carried[0], live)
        return ops, expect, acct

    # one untimed round on freshly loaded tables first, so the timed rounds do
    # not pay the first run of each statement shape; set-up then reloads them
    warm_ops, _, _ = generate(random.Random(rng.random()), 1)
    rounds = max(3, int(seconds) // 3)  # a round takes several seconds
    ops, expect, acct = generate(rng, rounds)
    p = dict(base, warmup=setup + warm_ops, setup=setup, ops=ops, pass_len=len(ops) // rounds,
             kv_dir=kv_dir)
    return p, expect, acct
