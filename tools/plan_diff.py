#!/usr/bin/env python3
"""Compare two `graft.Explain` dumps query by query.

    python3 tools/plan_diff.py BEFORE.txt AFTER.txt [-v] [--only q24,q44]

Each dump is the stdout of `runMain graft.Explain <sfDir> [name ...]`:
one `===== <query> =====` header per query, then its formatted physical
plan. Before comparing, the run-specific parts of a plan are masked:
expression ids (`#123`), RDD ids (`MapPartitionsRDD[74]`), exchange plan
ids (`plan_id=11`), the `at X.scala:N` call sites of checkpointed RDDs
the class names of Scala lambdas (`Lambda$4844/0x…@7fc8930f`) and the
random digits of temporary directory names (runs of 12 or more inside a
`graft-run-` path; digits anywhere else, such as literals, still count).
Prints `identical`, `different` or `missing` per query (only the
queries `--only` prefixes, when given) and, with `-v`, a unified diff of
each different plan. Exits 1 when any compared query differs or is
missing from one dump, else 0.
"""
import argparse
import difflib
import re
import sys

# Spark's formatted explain titles a plan's subqueries `===== Subqueries =====`:
# that section belongs to the query above it
HEADER = re.compile(r"^===== (?!Subqueries =====)(\S+) =====$")
MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r" at [\w$]+\.scala:\d+"), " at X.scala:N"),
    (re.compile(r"Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+"), "Lambda$N"),
]
# a per-JVM temp root and the directories under it: `graft-run-<digits>/`
# then `<prefix><digits>`, as graft.Temps makes them
TEMP_PATH = re.compile(r"graft-run-[^\s,\])]*")
TEMP_DIGITS = re.compile(r"\d{12,}")


def mask(line):
    for pattern, repl in MASKS:
        line = pattern.sub(repl, line)
    return TEMP_PATH.sub(lambda m: TEMP_DIGITS.sub("N", m.group(0)), line)


def split(text):
    """{query: [masked plan lines]} of one Explain dump."""
    plans, current = {}, None
    for line in text.splitlines():
        m = HEADER.match(line)
        if m:
            current = plans.setdefault(m.group(1), [])
        elif current is not None:
            current.append(mask(line.rstrip()))
    return plans


def compare(before, after, only=None):
    """[(query, status, diff lines)] over the union of both dumps."""
    out = []
    for q in sorted(set(before) | set(after)):
        if only and not any(q.startswith(p) for p in only):
            continue
        if q not in before or q not in after:
            out.append((q, "missing", []))
        elif before[q] == after[q]:
            out.append((q, "identical", []))
        else:
            diff = list(difflib.unified_diff(before[q], after[q], "before", "after",
                                             lineterm=""))
            out.append((q, "different", diff))
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("-v", "--verbose", action="store_true",
                    help="print a unified diff of each different plan")
    ap.add_argument("--only", default="",
                    help="comma-separated query-name prefixes to compare")
    args = ap.parse_args(argv)
    with open(args.before) as f:
        before = split(f.read())
    with open(args.after) as f:
        after = split(f.read())
    only = [p for p in args.only.split(",") if p]
    results = compare(before, after, only)
    for q, status, diff in results:
        print(f"{status:9} {q}")
        if args.verbose:
            for line in diff:
                print("    " + line)
    bad = sum(1 for _, status, _ in results if status != "identical")
    print(f"{len(results) - bad} identical, {bad} not identical")
    return 1 if bad or not results else 0


if __name__ == "__main__":
    sys.exit(main())
