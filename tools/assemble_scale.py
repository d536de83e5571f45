#!/usr/bin/env python3
"""Assemble a SCALE_MEASURED file from fresh ScaleLaws logs.

    python3 tools/assemble_scale.py <round> <prior SCALE_MEASURED.json> <out.json> <log>...

Each log is the stdout of `runMain graft.bench.ScaleLaws ...`: every
`{"family":...}` JSON object on a line (bare or behind a log prefix) is
one measured row; every other line (markdown, Spark log noise) is
skipped. A family with fresh rows takes only those rows; every other
family of the prior file is carried over unchanged. The `note` names
both lists. A log that yields no family row fails the run: its bench
most likely died, and carrying the prior rows in its place would pass
stale data off as fresh.
"""
import collections
import json
import re
import sys

ROW = re.compile(r'\{"family".*\}')


def rows_of(path):
    """(family, row) for every family row of one log, in log order."""
    out = []
    with open(path) as f:
        for line in f:
            m = ROW.search(line)
            if m:
                row = json.loads(m.group(0))
                out.append((row.pop("family"), row))
    return out


def assemble(round_no, prior, logs):
    """The assembled document: fresh families from `logs`, the rest of
    `prior["families"]` carried over."""
    fresh = collections.defaultdict(list)
    for path in logs:
        rows = rows_of(path)
        if not rows:
            raise SystemExit(f"{path}: no family rows - did its bench run fail? "
                             "refusing to carry stale data as fresh")
        for name, row in rows:
            fresh[name].append(row)
    carried = sorted(set(prior["families"]) - set(fresh))
    families = dict(fresh)
    families.update((name, prior["families"][name]) for name in carried)
    return {
        "run": f"round-{round_no} measurement assembly",
        "round": round_no,
        "host": prior.get("host"),
        "note": f"fresh: {', '.join(sorted(fresh))}. "
                f"Carried from round {prior.get('round')} unchanged: "
                f"{', '.join(carried) or 'none'}",
        "families": dict(sorted(families.items())),
    }


def main(argv):
    if len(argv) < 4:
        raise SystemExit(__doc__)
    round_no, prior_path, out = int(argv[0]), argv[1], argv[2]
    with open(prior_path) as f:
        doc = assemble(round_no, json.load(f), argv[3:])
    with open(out, "w") as f:
        json.dump(doc, f, indent=1)
    print(f"wrote {out}: {len(doc['families'])} families; {doc['note']}")


if __name__ == "__main__":
    main(sys.argv[1:])
