#!/usr/bin/env python3
"""Summarise the spans of a traced perfbench run, op by op.

    python3 tools/spans_summary.py perfbench/results/<run>.spans.jsonl [--frames] [--timeline]

A traced run (`perfbench/run.py --trace 1`) writes one JSON line per timed
operation (`"kind": "op"`) and one per Spark job started inside it
(`"kind": "job"`, with the op's `op_id` and the innermost graft call-site
`frame`). For every op this prints its wall time, its busy time (the union
of its jobs' intervals clipped to the op, so overlapping jobs count once),
the driver gap (wall minus busy) and its job count; `--frames` adds the job
count of each call-site frame under its op, and `--timeline` lists every
job of the op in start order: its start and end offset from the op's start,
its duration, task count and frame. The last lines give, per op name, the
job counts of its calls.
"""
import argparse
import collections
import json
import sys


def load(path):
    """(ops by id, jobs by op id) of one spans file."""
    ops, jobs = {}, collections.defaultdict(list)
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            rec = json.loads(line)
            if rec["kind"] == "op":
                ops[rec["op_id"]] = rec
            elif rec["kind"] == "job":
                jobs[rec["op_id"]].append(rec)
    return ops, jobs


def union_ms(intervals, lo, hi):
    """Length of the union of [start, end) intervals clipped to [lo, hi)."""
    clipped = sorted((max(s, lo), min(max(e, s), hi)) for s, e in intervals)
    total, cur_s, cur_e = 0, None, None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def summarise(ops, jobs):
    """One row per op, in op-id order: (op, wall_ms, busy_ms, gap_ms, jobs,
    job count per frame)."""
    rows = []
    for op_id in sorted(ops):
        op = ops[op_id]
        js = jobs.get(op_id, [])
        wall = op["end_ms"] - op["start_ms"]
        busy = union_ms([(j["start_ms"], j["end_ms"]) for j in js],
                        op["start_ms"], op["end_ms"])
        frames = collections.Counter(j["frame"] for j in js)
        rows.append((op, wall, busy, wall - busy, len(js), frames))
    return rows


def timeline(op, js):
    """(start_ms, end_ms, duration_ms, tasks, frame) of each job of one op,
    offsets from the op's start, in start order (job id breaks ties)."""
    rows = []
    for j in sorted(js, key=lambda j: (j["start_ms"], j["job_id"])):
        end = max(j["end_ms"], j["start_ms"])
        rows.append((j["start_ms"] - op["start_ms"], end - op["start_ms"],
                     end - j["start_ms"], j.get("tasks", 0), j["frame"]))
    return rows


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("spans", help="a perfbench .spans.jsonl file")
    ap.add_argument("--frames", action="store_true",
                    help="also print job counts per call-site frame")
    ap.add_argument("--timeline", action="store_true",
                    help="also print every job of each op in start order")
    args = ap.parse_args(argv)
    ops, jobs = load(args.spans)
    rows = summarise(ops, jobs)
    print(f"{'op':>4} {'name':<16} {'wall_s':>8} {'busy_s':>8} {'gap_s':>8} {'jobs':>5}")
    per_name = collections.defaultdict(list)
    for op, wall, busy, gap, n, frames in rows:
        print(f"{op['op_id']:>4} {op['name']:<16} {wall / 1000:>8.3f} "
              f"{busy / 1000:>8.3f} {gap / 1000:>8.3f} {n:>5}")
        per_name[op["name"]].append(n)
        if args.frames:
            for frame, c in sorted(frames.items(), key=lambda kv: (-kv[1], kv[0])):
                print(f"{'':>10}{c:>4}  {frame}")
        if args.timeline:
            print(f"{'':>10}{'start_s':>8} {'end_s':>8} {'dur_s':>7} {'tasks':>5}  frame")
            for start, end, dur, tasks, frame in timeline(op, jobs.get(op["op_id"], [])):
                print(f"{'':>10}{start / 1000:>+8.3f} {end / 1000:>+8.3f} "
                      f"{dur / 1000:>7.3f} {tasks:>5}  {frame}")
    print()
    for name in sorted(per_name):
        print(f"{name:<16} jobs per call: {'/'.join(map(str, per_name[name]))}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
