#!/usr/bin/env python3
"""graft benchmark: one seeded run of one workload.

    python3 graftbench/run.py --workload olap_read --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds graft and the harness
(build.sh), generates the input tables (datagen.py) and computes the expected
result digests with DuckDB over SparkEntry.oracleSql; later runs reuse them
from graftbench/.build while the sources are unchanged.

Each run starts one JVM (local[N], N = nproc, spark.sql.shuffle.partitions =
N), sets up several times, then runs whole passes of the workload's statements
for at least --seconds, one client thread in a closed loop. Every result is
checked against its expected digest after the clock stops. The last stdout
line is a JSON object with `correct`, `attempted`, `failed` and `metrics`:
the end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
Each run's full record, host key included, is kept in .build/results.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import layers  # noqa: E402
import workloads  # noqa: E402

SCALE = 0.01
WARM_SCALE = 0.001  # tables for the one warm-up pass that precedes set-up
SETUP_REPS = 3
HEAP = "3g"
# the harness JVM may take set-up plus about three times --seconds: kv_keyed
# runs at least seconds // 3 rounds of several seconds each
JVM_TIMEOUT_BASE_S = 130
JVM_TIMEOUT_PER_S = 4
BUILD = os.path.join(BENCH, ".build")
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print("[graftbench] " + msg, file=sys.stderr, flush=True)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase` that
    build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m is None:
        raise BenchError("set SPARK_HOME: build.sbt names no unmanagedBase")
    return m.group(1)


def tree_hash(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def source_files():
    return (glob.glob("src/main/scala/**/*.scala", recursive=True)
            + glob.glob(os.path.join(BENCH, "harness", "**", "*.scala"), recursive=True)
            + [os.path.join(BENCH, "build.sh")])


def build():
    """Compiled classes for the current sources; rebuilt when they change."""
    stamp = tree_hash(source_files())
    classes = os.path.join(BUILD, "classes-" + stamp)
    if not os.path.isdir(classes):
        for old in glob.glob(os.path.join(BUILD, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        log("building graft and the harness (sources %s)" % stamp)
        t = time.time()
        r = subprocess.run(["sh", os.path.join(BENCH, "build.sh"), classes, spark_jars()],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            raise BenchError("build failed:\n" + r.stdout[-4000:])
        log("built in %.0f s" % (time.time() - t))
    return classes, stamp


def data():
    """(input tables, warm-up tables), generated once per generator version."""
    import datagen
    stamp = tree_hash([os.path.join(BENCH, "datagen.py")])
    d = os.path.join(BUILD, "data", stamp)
    if not os.path.isdir(d):
        shutil.rmtree(os.path.join(BUILD, "data"), ignore_errors=True)
        log("generating input tables at scales %s and %s" % (SCALE, WARM_SCALE))
        datagen.write(d + ".tmp/warm", WARM_SCALE)
        datagen.write(d + ".tmp/main", SCALE)
        os.rename(d + ".tmp", d)
    return os.path.join(d, "main"), os.path.join(d, "warm")


def java_cmd(classes, run_dir, *args):
    return (["java", "-Xmx" + HEAP, "-Xss8m", "-XX:-UsePerfData", "-Duser.timezone=UTC",
             "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
             "-Dgraft.catalog.path=" + os.path.join(run_dir, "graft_catalog.json")]
            + [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
            + ["-cp", classes + os.pathsep + os.path.join(spark_jars(), "*"),
               "graftbench.Harness"] + list(args))


def run_jvm(classes, run_dir, timeout_s, *args):
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    env = dict(os.environ, GRAFT_CATALOG_PATH=os.path.join(run_dir, "graft_catalog.json"))
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as out:
        p = subprocess.Popen(java_cmd(classes, run_dir, *args), cwd=run_dir, env=env,
                             stdout=out, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError("harness JVM exceeded %d s" % timeout_s)
    if code != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise BenchError("harness JVM exited with %d:\n%s" % (code, tail))


def expected_digests(classes, data_dir):
    """{query: digest} from DuckDB over SparkEntry.oracleSql on the input tables."""
    import canon
    import duckdb
    sql_path = os.path.join(classes, "oracle_sql.json")
    if not os.path.exists(sql_path):
        scratch = os.path.join(BUILD, "oracles-%d" % os.getpid())
        os.makedirs(scratch, exist_ok=True)
        try:
            run_jvm(classes, scratch, JVM_TIMEOUT_BASE_S, "oracles", sql_path + ".tmp")
            os.rename(sql_path + ".tmp", sql_path)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
    with open(sql_path) as f:
        sql = json.load(f)
    key = hashlib.sha256(json.dumps([sql.get(q) for q in workloads.CHECKED_QUERIES])
                         .encode() + data_dir.encode()).hexdigest()[:16]
    path = os.path.join(BUILD, "expected-%s.json" % key)
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    missing = [q for q in workloads.CHECKED_QUERIES if q not in sql]
    if missing:
        raise BenchError("no oracle for %s" % ", ".join(missing))
    log("computing expected digests with DuckDB")
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s.parquet')"
                    % (t, data_dir, t))
    out = {}
    for q in workloads.CHECKED_QUERIES:
        r = con.sql(sql[q])
        out[q] = canon.digest(r.columns, r.fetchall())
        if out[q].startswith("0:"):
            raise BenchError("oracle for %s returns no rows on the input tables" % q)
    for old in glob.glob(os.path.join(BUILD, "expected-*.json")):
        os.remove(old)
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.rename(path + ".tmp", path)
    return out


def du(path):
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def check(result, expect):
    """(attempted, failed, reasons): an operation fails when it raised or when
    its result digest differs from the expected one."""
    failed, reasons = 0, []
    for st in result["stmts"]:
        want = expect.get(st["i"])
        if "err" in st:
            failed += 1
            reasons.append("op %d raised: %s" % (st["i"], st["err"]))
        elif want is not None and st["digest"] != want:
            failed += 1
            reasons.append("op %d: digest %s, expected %s" % (st["i"], st["digest"][:24],
                                                               want[:24]))
    return len(result["stmts"]), failed, reasons


def per_pass(result, pass_len, start, end):
    """Per whole pass, the sum over its statements of `end - start`, in seconds."""
    d = [st[end] - st[start] for st in result["stmts"]]
    return [sum(d[i:i + pass_len]) / 1000.0 for i in range(0, len(d), pass_len)
            if i + pass_len <= len(d)]


def end_to_end(result, plan, acct, failed, attempted):
    ops = plan["ops"]
    lat = {"stmt": [], "read": [], "write": []}
    samples = {}
    for st in result["stmts"]:
        ms = st["e"] - st["s"]
        cls = ops[st["i"]]["cls"]
        lat["stmt"].append(ms)
        if cls == "query" or cls.startswith("read."):
            lat["read"].append(ms)
        elif cls.startswith("write."):
            lat["write"].append(ms)
    walls = per_pass(result, plan["pass_len"], "s", "e")
    cpu = per_pass(result, plan["pass_len"], "cs", "ce")
    m = {"setup_s": (result["session_ms"] + result["warm_ms"]
                     + statistics.median(result["setup_ms"])) / 1000.0,
         "wall_s": statistics.median(walls),
         "cpu_s": statistics.median(cpu)}
    samples["pass_walls_s"] = walls
    samples["pass_cpu_s"] = cpu
    for cls in ("stmt", "read", "write"):
        for q in (50, 90) if lat[cls] else ():
            name = "%s_p%d_ms" % (cls, q)
            m[name], beyond = layers.percentile(lat[cls], q / 100.0)
            samples[name] = "n=%d, %d beyond" % (len(lat[cls]), beyond)
    m["peak_rss_mb"] = result["vmhwm_kb"] / 1024.0
    m["error_rate"] = failed / attempted
    if acct is not None:
        carried, live = acct[result["stmts"][-1]["i"]]
        m["write_amp"] = result["io_wchar"] / carried
        on_disk = (du(plan["kv_dir"]) + du(os.path.join(plan["run_dir"], "graft_loads"))
                   + du(os.path.join(plan["data_dir"], "orders.parquet")))
        m["space_amp"] = on_disk / live
    return m, samples


def declared():
    """(end-to-end names, per-layer names, {name: unit}) from BENCHMARK.json."""
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    return ([m["name"] for m in spec["end_to_end"]], [m["name"] for m in spec["per_layer"]],
            units)


# units of the end-to-end metrics that are printed but not in BENCHMARK.json
PRINTED_UNITS = dict({"write_amp": "ratio", "space_amp": "ratio"},
                     **{"%s_p%d_ms" % (c, q): "ms" for c in ("stmt", "read", "write")
                        for q in (50, 90)})


def per_layer(result, plan, e2e, cpus):
    """The traced run's metrics: the layer split plus what the run measured."""
    ops = plan["ops"]
    metrics = layers.split(result, ops, cpus)
    metrics["trace.wall_s"] = e2e["wall_s"]
    metrics["error_rate"] = e2e["error_rate"]
    metrics["exec.persist_leaks"] = result["leaks"]
    metrics["peak_rss_mb"] = e2e["peak_rss_mb"]
    metrics["sources.write_amp"] = e2e.get("write_amp", 0.0)
    metrics["sources.space_amp"] = e2e.get("space_amp", 0.0)
    metrics["sources.optimize_ms"] = sum(st["e"] - st["s"] for st in result["stmts"]
                                         if ops[st["i"]]["cls"] == "write.optimize")
    metrics["sources.commit_refusals"] = sum(
        1 for st in result["stmts"]
        if "err" in st and ops[st["i"]]["cls"].startswith("write.")
        and any(w in st["err"].lower() for w in ("conflict", "refus", "concurrent")))
    return metrics


def host_key(result, stamp, args):
    h = dict(result["host"])
    h["xmx"] = HEAP
    h["source"] = stamp
    h["seed"] = args.seed
    h["workload"] = args.workload
    h["trace"] = args.trace
    return h


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile("src/main/scala/graft/SparkEntry.scala"):
        raise BenchError("run from the root of a graft checkout (no src/main/scala/graft here)")
    if shutil.which("java") is None:
        raise BenchError("java is not on PATH")
    e2e_names, layer_names, units = declared()
    units.update(PRINTED_UNITS)
    classes, stamp = build()
    data_dir, warm_dir = data()
    oracle = expected_digests(classes, data_dir)
    cpus = os.cpu_count()
    run_dir = os.path.join(BUILD, "runs", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        plan, expect, acct = workloads.plan(args.workload, args.seed, data_dir, warm_dir,
                                            run_dir, args.seconds, args.trace, cpus, SETUP_REPS,
                                            oracle)
        with open(os.path.join(run_dir, "plan.json"), "w") as f:
            json.dump(plan, f)
        run_jvm(classes, run_dir, JVM_TIMEOUT_BASE_S + JVM_TIMEOUT_PER_S * args.seconds,
                "run", os.path.join(run_dir, "plan.json"),
                os.path.join(run_dir, "result.json"))
        with open(os.path.join(run_dir, "result.json")) as f:
            result = json.load(f)
        attempted, failed, reasons = check(result, expect)
        e2e, samples = end_to_end(result, plan, acct, failed, attempted)
        correct = failed == 0
        if args.trace:
            metrics = per_layer(result, plan, e2e, cpus)
            problems = layers.check(metrics)
            if problems:
                correct = False
                reasons.extend(problems)
            names = layer_names
        else:
            metrics = e2e
            names = e2e_names
        missing = [k for k in names if k not in metrics]
        if missing:
            raise BenchError("the run measured no %s" % ", ".join(missing))
        metrics = {k: metrics[k] for k in names}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    key = host_key(result, stamp, args)
    latencies = [[plan["ops"][st["i"]].get("name", plan["ops"][st["i"]]["cls"]), st["e"] - st["s"]]
                 for st in result["stmts"]]
    record = {"host_key": key, "correct": correct, "attempted": attempted, "failed": failed,
              "metrics": metrics, "samples": samples, "end_to_end": e2e, "reasons": reasons[:20],
              "latencies_ms": latencies}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results", "%s-s%d-t%d-%d.json"
                           % (args.workload, args.seed, args.trace, int(time.time()))), "w") as f:
        json.dump(record, f, indent=1)
    for r in reasons[:20]:
        log("FAIL " + r)
    print("host_key " + json.dumps(key, sort_keys=True))
    for name, value in sorted(e2e.items()):
        print("%-14s %-14s %14.4f %-6s%s" % (args.workload, name, value, units[name],
                                              "  (%s)" % samples[name] if name in samples else ""))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]}
                                  for k, v in sorted(metrics.items())}}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except BenchError as e:
        log(str(e))
        sys.exit(2)
