"""Interval arithmetic and the per-layer split of a traced run.

A statement's interval is partitioned into layers by priority, so the layer
self times and the residual add up to the statement's wall time exactly and
none is negative:

1. `exec`: the union of the Spark job intervals inside the statement;
2. `streaming`: micro-batch intervals, outside jobs;
3. `plans`: Catalyst phases (parsing, analysis, optimization, planning) of
   every query the statement ran, outside the above. For statements the
   parser hands to Ddl, the parsing phase is Ddl's work and is not counted;
4. `ddl`: for statements on the `MAPPED BY` table, the `spark.sql` call
   (parser intercept and Ddl dispatch), outside the above;
5. `sources`: for statements on the `graft_kv` table, the whole statement
   outside the above (manifest read and commit, codec, driver-side scan);
6. `resid`: what no layer claims.

`check` verifies the partition against an independent measure: the time no
layer's raw intervals cover at all, `trace.unclaimed_ms`, which must equal
the residual.

Listener events carry only their own times; an event belongs to the
statement whose interval contains it (one client thread, so at most one
statement is open at a time). Events report whole milliseconds, so
containment allows `TOLERANCE_MS` at either end.
"""
import math

TOLERANCE_MS = 1.0
PHASES = ("parsing", "analysis", "optimization", "planning")


def union(intervals):
    """Sorted, disjoint cover of the given (start, end) intervals."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            if e > out[-1][1]:
                out[-1] = (out[-1][0], e)
        else:
            out.append((s, e))
    return out


def length(intervals):
    return sum(e - s for s, e in union(intervals))


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def subtract(a, b):
    """Parts of union(a) not covered by union(b)."""
    out = []
    b = union(b)
    for s, e in union(a):
        cur = s
        for bs, be in b:
            if be <= cur or bs >= e:
                continue
            if bs > cur:
                out.append((cur, bs))
            cur = max(cur, be)
            if cur >= e:
                break
        if cur < e:
            out.append((cur, e))
    return out


def self_time(span, children):
    """A span's duration minus the part its children cover."""
    s, e = span
    return (e - s) - length(clip(children, s, e))


def assign(events, stmts, tol=TOLERANCE_MS):
    """For each (start, end) event, the index of the statement interval that
    contains it, or None. `stmts` is sorted and non-overlapping."""
    starts = [s for s, _ in stmts]
    out = []
    for s, e in events:
        lo, hi = 0, len(stmts)
        while lo < hi:  # last statement starting at or before s + tol
            mid = (lo + hi) // 2
            if starts[mid] <= s + tol:
                lo = mid + 1
            else:
                hi = mid
        k = lo - 1
        ok = k >= 0 and stmts[k][0] - tol <= s and e <= stmts[k][1] + tol
        out.append(k if ok else None)
    return out


def percentile(values, q):
    """Nearest-rank percentile and the number of samples strictly beyond it."""
    v = sorted(values)
    if not v:
        return float("nan"), 0
    rank = max(1, math.ceil(q * len(v)))
    return v[rank - 1], len(v) - rank


def split(result, ops, cpus):
    """Per-layer metrics of one traced run.

    `result` is the harness's result file, `ops` the plan's operations."""
    tr = result["trace"]
    stmts = result["stmts"]
    spans = [(s["s"], s["e"]) for s in stmts]
    jobs_by = _group(tr["jobs"], spans, lambda j: (j["s"], j["e"]))
    batches_by = _group(tr["batches"], spans, lambda b: (b["s"], b["e"]))
    queries_by = _group([q for q in tr["queries"] if q["phases"]], spans,
                        lambda q: (min(p[1] for p in q["phases"]),
                                   max(p[2] for p in q["phases"])))
    stages_by = _group([st for st in tr["stages"] if st["s"] >= 0 and st["e"] >= 0],
                       spans, lambda st: (st["s"], st["e"]))
    m = {k: 0.0 for k in ("exec_ms", "streaming_ms", "plans_ms", "ddl_ms", "sources_read_ms",
                          "sources_write_ms", "resid_ms", "wall_ms", "unclaimed_ms")}
    m.update({"phase_" + p: 0.0 for p in PHASES})
    counts = {"ddl_stmts": 0, "ddl_jobs": 0, "kv_reads": 0, "kv_read_rows": 0,
              "kv_scan_rows": 0, "kv_scan_parts": 0, "exchanges": 0, "rule_ns": 0,
              "rule_inv": 0, "rule_eff": 0}
    for k, st in enumerate(stmts):
        op = ops[st["i"]]
        lo, hi = st["s"], st["e"]
        table = op.get("table")
        J = union(clip([(j["s"], j["e"]) for j in jobs_by[k]], lo, hi))
        B = subtract(clip([(b["s"], b["e"]) for b in batches_by[k]], lo, hi), J)
        taken = J + B
        by_phase = {}
        for q in queries_by[k]:
            for name, s, e in q["phases"]:
                if name == "parsing" and table == "astro":
                    continue
                by_phase.setdefault(name, []).append((s, e))
        P = []
        for name in PHASES:  # earlier phases win where nested queries overlap
            part = subtract(clip(by_phase.get(name, []), lo, hi), taken + P)
            m["phase_" + name] += length(part)
            P = union(P + part)
        taken = union(taken + P)
        own = 0.0  # the self time of the layer that owns the statement
        owned = []  # and the interval it owns, before the others are taken out
        if table == "astro" and "ss" in st:
            owned = clip([(st["ss"], st["se"])], lo, hi)
            own = self_time((st["ss"], st["se"]), taken)
        elif table == "kv":
            owned = [(lo, hi)]
            own = self_time((lo, hi), taken)
        wall = hi - lo
        claimed = (J + clip([(b["s"], b["e"]) for b in batches_by[k]], lo, hi)
                   + clip([i for phase in by_phase.values() for i in phase], lo, hi) + owned)
        m["unclaimed_ms"] += wall - length(claimed)
        m["wall_ms"] += wall
        m["exec_ms"] += length(J)
        m["streaming_ms"] += length(B)
        m["plans_ms"] += length(P)
        if table == "astro":
            m["ddl_ms"] += own
            counts["ddl_stmts"] += 1
            counts["ddl_jobs"] += len(jobs_by[k])
        elif table == "kv":
            m["sources_read_ms" if op["cls"].startswith("read.") else "sources_write_ms"] += own
        m["resid_ms"] += wall - length(J) - length(B) - length(P) - own
        for q in queries_by[k]:
            counts["exchanges"] += q.get("exchanges", 0)
            counts["rule_ns"] += q["graft_rule_ns"]
            counts["rule_inv"] += q["graft_rule_inv"]
            counts["rule_eff"] += q["graft_rule_eff"]
            if table == "kv" and op["cls"].startswith("read."):
                counts["kv_scan_rows"] += q.get("scan_rows", 0)
                counts["kv_scan_parts"] += q.get("scan_parts", 0)
        if table == "kv" and op["cls"].startswith("read.") and "digest" in st:
            counts["kv_reads"] += 1
            counts["kv_read_rows"] += int(st["digest"].split(":")[0])
    stages = [s for group in stages_by for s in group]
    run_ms = sum(s.get("run_ms", 0) for s in stages)
    probes = result.get("probes", [])
    out = {
        "plans.parse_ms": m["phase_parsing"],
        "plans.analysis_ms": m["phase_analysis"],
        "plans.optimization_ms": m["phase_optimization"],
        "plans.planning_ms": m["phase_planning"],
        "plans.self_ms": m["plans_ms"],
        "plans.graft_rule_ms": counts["rule_ns"] / 1e6,
        "plans.graft_rule_effective_ratio": _ratio(counts["rule_eff"], counts["rule_inv"]),
        "plans.exchanges": counts["exchanges"],
        "ddl.stmts": counts["ddl_stmts"],
        "ddl.self_ms": m["ddl_ms"],
        "ddl.jobs_per_stmt": _ratio(counts["ddl_jobs"], counts["ddl_stmts"]),
        "sources.read_self_ms": m["sources_read_ms"],
        "sources.write_self_ms": m["sources_write_ms"],
        "sources.manifest_read_ms": sum(p["e"] - p["s"] for p in probes),
        "sources.rows_examined_per_row": _ratio(counts["kv_scan_rows"], counts["kv_read_rows"]),
        "sources.scan_partitions_per_read": _ratio(counts["kv_scan_parts"], counts["kv_reads"]),
        "sources.files_live": _mean(p["files"] for p in probes),
        "sources.delta_files_live": _mean(p["deltas"] for p in probes),
        "sources.manifest_bytes": _mean(p["manifest_bytes"] for p in probes),
        "exec.self_ms": m["exec_ms"],
        "exec.jobs": sum(len(g) for g in jobs_by),
        "exec.stages": len(stages),
        "exec.tasks": sum(s["tasks"] for s in stages),
        "exec.job_union_ms": m["exec_ms"],
        "exec.executor_run_ms": run_ms,
        "exec.executor_cpu_ms": sum(s.get("cpu_ns", 0) for s in stages) / 1e6,
        "exec.gc_ms": sum(s.get("gc_ms", 0) for s in stages),
        "exec.slot_busy_ratio": _ratio(run_ms, m["exec_ms"] * cpus),
        "exec.single_task_stages": sum(1 for s in stages if s["tasks"] == 1),
        "exec.shuffle_write_bytes": sum(s.get("shuffle_write", 0) for s in stages),
        "exec.shuffle_read_bytes": sum(s.get("shuffle_read", 0) for s in stages),
        "exec.spill_bytes": sum(s.get("spill", 0) for s in stages),
        "exec.persist_peak_bytes": tr["persist_peak_bytes"],
        "exec.failed_tasks": tr["failed_tasks"],
        "streaming.batches": sum(len(g) for g in batches_by),
        "streaming.self_ms": m["streaming_ms"],
        "streaming.add_batch_ms": sum(b["add_batch_ms"] for g in batches_by for b in g),
        "streaming.trigger_ms": sum(b["trigger_ms"] for g in batches_by for b in g),
        "resid_ms": m["resid_ms"],
        "resid_share": _ratio(m["resid_ms"], m["wall_ms"]),
        "trace.stmt_wall_ms": m["wall_ms"],
        "trace.unclaimed_ms": m["unclaimed_ms"],
        "trace.unattributed_jobs": len(tr["jobs"]) - sum(len(g) for g in jobs_by),
    }
    return out


SELF_TIMES = ("exec.self_ms", "streaming.self_ms", "plans.self_ms", "ddl.self_ms",
              "sources.read_self_ms", "sources.write_self_ms")


def check(metrics, tol=0.01):
    """Problems with a split, as messages: the layer self times plus the
    unclaimed time must add up to the statement wall time within `tol`, so a
    layer that counts time twice or misses time shows; and no self time and
    no residual may be negative."""
    problems = []
    wall = metrics["trace.stmt_wall_ms"]
    total = sum(metrics[k] for k in SELF_TIMES) + metrics["trace.unclaimed_ms"]
    if abs(total - wall) > tol * wall:
        problems.append("layer self times plus unclaimed time are %.1f ms of %.1f ms"
                        % (total, wall))
    negative = [k for k in SELF_TIMES + ("resid_ms", "trace.unclaimed_ms") if metrics[k] < 0]
    if negative:
        problems.append("negative layer times: %s" % ", ".join(negative))
    return problems


def _group(events, spans, interval):
    groups = [[] for _ in spans]
    for ev, k in zip(events, assign([interval(e) for e in events], spans)):
        if k is not None:
            groups[k].append(ev)
    return groups


def _ratio(a, b):
    return a / b if b else 0.0


def _mean(values):
    v = list(values)
    return sum(v) / len(v) if v else 0.0
