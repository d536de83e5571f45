#!/usr/bin/env python3
"""Compare benchmark result files, refusing runs with different inputs.

    python3 perfbench/compare.py BASE_DIR [HEAD_DIR]

Each directory holds result records written by run.py
(<workload>-seed<n>-trace<t>.json). Every record carries the
fingerprints of the workload inputs (the stub node's rules, the
stand-in decompiler script, the input generator); records whose
fingerprints differ measured different inputs and are never compared,
so the script exits 2 on any mismatch. For each workload it prints the
median and quartiles of every end-to-end metric over the untraced runs
and, where traced runs exist, the tracing overhead (traced median minus
untraced median). With HEAD_DIR it also prints each metric's change.
"""
import glob
import json
import os
import statistics
import sys


def load(directory):
    records = []
    for path in sorted(glob.glob(os.path.join(directory, "*-seed*-trace*.json"))):
        with open(path) as f:
            records.append(json.load(f))
    return records


def fingerprint_set(records):
    return {json.dumps(r.get("fingerprints"), sort_keys=True) for r in records}


def summary(records):
    """{workload: {trace: {metric: [values]}}} over correct runs."""
    out = {}
    for r in records:
        if not r.get("correct"):
            continue
        per = out.setdefault(r["workload"], {}).setdefault(int(bool(r["trace"])), {})
        for name, m in r["end_to_end"].items():
            if isinstance(m.get("value"), (int, float)):
                per.setdefault(name, []).append(m["value"])
    return out


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main(argv):
    if not 1 <= len(argv) <= 2:
        print(__doc__, file=sys.stderr)
        return 2
    sides = [load(d) for d in argv]
    if not all(sides):
        print("no result records found", file=sys.stderr)
        return 2
    prints = set().union(*(fingerprint_set(s) for s in sides))
    if len(prints) > 1:
        print("refusing to compare: the runs measured different inputs "
              f"({len(prints)} distinct input fingerprints)", file=sys.stderr)
        return 2
    stats = [summary(s) for s in sides]
    for workload in sorted(stats[0]):
        untraced = stats[0][workload].get(0, {})
        traced = stats[0][workload].get(1, {})
        for metric, values in sorted(untraced.items()):
            q1, q2, q3 = quartiles(values)
            line = (f"{workload:14s} {metric:18s} n={len(values):2d} median={q2:.4g} "
                    f"iqr/median={(q3 - q1) / q2 if q2 else float('nan'):.3f}")
            if metric in traced:
                line += f" trace_overhead={statistics.median(traced[metric]) - q2:+.4g}"
            if len(stats) == 2:
                head = stats[1].get(workload, {}).get(0, {}).get(metric)
                if head:
                    h2 = statistics.median(head)
                    line += f" head_median={h2:.4g} change={(h2 - q2) / q2:+.3f}"
            print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
