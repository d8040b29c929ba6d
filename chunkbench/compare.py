#!/usr/bin/env python3
"""Compare two sets of chunk-loop benchmark results.

    python3 chunkbench/compare.py BASE.jsonl NEW.jsonl

Each file holds full results, one JSON object a line, as run.py --out
appends them. Runs are grouped by workload and trace mode. A group is
compared only when both files ran it with the same config stamp: core
count, shuffle partitions, max heap, JDK and Spark versions, and the same
set of seeds. Otherwise it is reported as not comparable and not diffed.
The git commit and source digest are what is being compared, so they may
differ. For each metric the medians, each side's quartile spread and the
change as a share of the base median are printed; an end-to-end change
worse than its BENCHMARK.json bound is flagged.
"""
import json
import os
import statistics
import sys

CONFIG = ("cores", "shuffle_partitions", "max_heap_mb", "jdk", "spark")


def load(path):
    groups = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                groups.setdefault((r["stamp"]["workload"], r["stamp"]["trace"]), []).append(r)
    return groups


def configs(runs):
    return {tuple(r["stamp"].get(k) for k in CONFIG) for r in runs}


def seeds(runs):
    return sorted(r["stamp"]["seed"] for r in runs)


def spread(values):
    if len(values) < 2:
        return 0.0
    q = statistics.quantiles(values, n=4)
    m = statistics.median(values)
    return (q[2] - q[0]) / m if m else float("nan")


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    status = 0
    for key in sorted(set(base) | set(new)):
        label = "%s trace=%d" % key
        if key not in base or key not in new:
            print("%s: only in %s" % (label, "base" if key in base else "new"))
            continue
        stamps = configs(base[key]) | configs(new[key])
        diffs = [k for i, k in enumerate(CONFIG) if len({c[i] for c in stamps}) > 1]
        if seeds(base[key]) != seeds(new[key]):
            diffs.append("seeds")
        if diffs:
            print("%s: not comparable (stamps differ in %s)" % (label, ", ".join(diffs)))
            continue
        print("%s: %d runs each, seeds %s" % (label, len(base[key]), seeds(base[key])))
        for name in base[key][0]["metrics"]:
            b = [r["metrics"][name] for r in base[key]]
            n = [r["metrics"][name] for r in new[key]]
            mb, mn = statistics.median(b), statistics.median(n)
            change = (mn - mb) / mb if mb else float("nan")
            flag = ""
            if name in spec:
                worse = change if spec[name]["better"] == "lower" else -change
                if worse > spec[name]["bound"]:
                    flag = "  WORSE than bound %.2f" % spec[name]["bound"]
                    status = 1
            print("  %-30s base %-12.6g new %-12.6g change %+.3f  spread %.3f / %.3f%s"
                  % (name, mb, mn, change, spread(b), spread(n), flag))
    sys.exit(status)


if __name__ == "__main__":
    main()
