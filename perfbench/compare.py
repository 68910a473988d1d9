#!/usr/bin/env python3
"""Summarize or compare sets of benchmark runs.

    python3 perfbench/compare.py DIR            # one set: medians and spreads
    python3 perfbench/compare.py DIR_A DIR_B    # B against A, per workload

A set is a directory of the detail records run.py writes to
`.bench_build/results/` (copy them aside per set). Runs are paired by
(workload, seed); a pair whose input fingerprints differ is reported and
left out, because its numbers were measured on different inputs. The
spread of a metric is the distance between the first and third quartile
of its values as a share of their median; B is worse than A when its
median is worse by more than the metric's bound in BENCHMARK.json.
"""
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(d):
    runs = {}
    for p in sorted(glob.glob(os.path.join(d, "*-trace0.json"))):
        with open(p) as f:
            r = json.load(f)
        runs[(r["workload"], r["seed"])] = r
    return runs


def stats(xs):
    med = statistics.median(xs)
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [med] * 3
    return med, (q[2] - q[0]) / med if med else 0.0


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    sets = [load(d) for d in sys.argv[1:3]]
    if not sets:
        sys.exit(__doc__)
    keys = set(sets[0])
    for other in sets[1:]:
        keys &= set(other)
        for k in sorted(keys):
            if other[k]["fingerprint"] != sets[0][k]["fingerprint"]:
                print(f"skip {k}: input fingerprints differ")
                keys.discard(k)
    out = {}
    for w in sorted({k[0] for k in keys}):
        seeds = sorted(s for (x, s) in keys if x == w)
        out[w] = {"seeds": seeds, "metrics": {}}
        for name, m in spec.items():
            row = {}
            for i, runs in enumerate(sets):
                xs = [runs[(w, s)]["result"][name]["value"] for s in seeds]
                med, spread = stats(xs)
                row["AB"[i]] = {"median": med, "spread": spread, "values": xs}
            if len(sets) == 2:
                a, b = row["A"]["median"], row["B"]["median"]
                change = (b - a) / a if m["better"] == "lower" else (a - b) / a
                row["worse_by"] = change
                row["regressed"] = change > m["bound"]
            out[w]["metrics"][name] = row
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
