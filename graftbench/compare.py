#!/usr/bin/env python3
"""Compare two sets of benchmark results, or summarise one.

    python3 graftbench/compare.py <dir A> [<dir B>]

A directory holds result records as `run.py` writes them to
graftbench/.build/results. For each workload and trace mode the script prints
every metric's median over the runs and its spread (the distance between the
first and third quartile, as a share of the median), and with two sets the
change of B's median against A's.

Results are only comparable on the same host: the script refuses sets whose
host keys (nproc, cores used, heap, JVM, Spark and Scala versions) differ.
The seed and the source tree may differ; that is what a comparison varies.
"""
import glob
import json
import os
import statistics
import sys

VARYING = ("seed", "source", "workload", "trace")


def load(d):
    runs = {}
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(p) as f:
            r = json.load(f)
        key = (r["host_key"]["workload"], r["host_key"]["trace"])
        runs.setdefault(key, []).append(r)
    return runs


def host(records):
    keys = {json.dumps({k: v for k, v in r["host_key"].items() if k not in VARYING},
                       sort_keys=True) for r in records}
    if len(keys) != 1:
        sys.exit("refusing: results from different hosts:\n  " + "\n  ".join(sorted(keys)))
    return keys.pop()


def metrics(record):
    """Untraced runs: every end-to-end metric, gated or not; traced: per-layer."""
    return record["metrics"] if record["host_key"]["trace"] else record["end_to_end"]


def summary(records):
    out = {}
    for name in metrics(records[0]):
        v = [metrics(r)[name] for r in records]
        med = statistics.median(v)
        q = statistics.quantiles(v, n=4) if len(v) > 1 else [v[0]] * 3
        out[name] = (med, (q[2] - q[0]) / med if med else 0.0)
    return out


def main(argv):
    sets = [load(d) for d in argv]
    if not sets or not sets[0]:
        sys.exit(__doc__)
    if len({host([r for runs in s.values() for r in runs]) for s in sets}) != 1:
        sys.exit("refusing: the two sets come from different hosts")
    for key in sorted(sets[0]):
        print("== %s trace=%d" % key)
        a = summary(sets[0][key])
        b = summary(sets[1][key]) if len(sets) > 1 and key in sets[1] else None
        bad = sum(1 for s in sets for r in s.get(key, []) if not r["correct"])
        for name, (med, spread) in sorted(a.items()):
            line = "  %-36s %14.4f  spread %6.3f" % (name, med, spread)
            if b and name in b:
                change = (b[name][0] - med) / med if med else 0.0
                line += "  | %14.4f  spread %6.3f  change %+7.3f" % (b[name] + (change,))
            print(line)
        print("  runs: %s; incorrect: %d" % (
            " vs ".join(str(len(s.get(key, []))) for s in sets), bad))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
