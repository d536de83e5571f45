"""Tests of tools/spans_summary.py over a hand-written spans file.

    python3 -m unittest discover -s tools/tests
"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import spans_summary  # noqa: E402

# op 0 runs 1000 ms; its jobs overlap ([100, 400) and [300, 600)) and a
# third one runs [800, 900): busy = 500 + 100 = 600 ms, gap = 400 ms.
# op 1 runs 500 ms with no job: busy 0, gap 500 ms.
SPANS = [
    {"kind": "op", "op_id": 0, "name": "ingest_text", "layer": "streaming.curate",
     "start_ms": 1000, "end_ms": 2000},
    {"kind": "op", "op_id": 1, "name": "serve_topk", "layer": "streaming.semantic",
     "start_ms": 2000, "end_ms": 2500},
    {"kind": "job", "op_id": 0, "job_id": 1, "frame": "graft.A.f(A.scala:1)",
     "layer": "streaming.curate", "start_ms": 1100, "end_ms": 1400},
    {"kind": "job", "op_id": 0, "job_id": 2, "frame": "graft.A.f(A.scala:1)",
     "layer": "streaming.curate", "start_ms": 1300, "end_ms": 1600},
    {"kind": "job", "op_id": 0, "job_id": 3, "frame": "graft.B.g(B.scala:2)",
     "layer": "sinks", "start_ms": 1800, "end_ms": 1900},
]
for job, tasks in zip(SPANS[2:], (4, 2, 1)):
    job["tasks"] = tasks


class SpansSummary(unittest.TestCase):
    def setUp(self):
        fd, self.path = tempfile.mkstemp(suffix=".spans.jsonl")
        with os.fdopen(fd, "w") as f:
            f.write("\n".join(json.dumps(r) for r in SPANS) + "\n")

    def tearDown(self):
        os.remove(self.path)

    def test_overlapping_jobs_count_once(self):
        rows = spans_summary.summarise(*spans_summary.load(self.path))
        op, wall, busy, gap, n, frames = rows[0]
        self.assertEqual((op["name"], wall, busy, gap, n), ("ingest_text", 1000, 600, 400, 3))
        self.assertEqual(frames, {"graft.A.f(A.scala:1)": 2, "graft.B.g(B.scala:2)": 1})

    def test_op_without_jobs(self):
        rows = spans_summary.summarise(*spans_summary.load(self.path))
        self.assertEqual(rows[1][1:5], (500, 0, 500, 0))

    def test_job_clipped_to_its_op(self):
        self.assertEqual(spans_summary.union_ms([(50, 150), (900, 1200)], 100, 1000), 150)

    def test_cli_prints_ops_and_frames(self):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            self.assertEqual(spans_summary.main([self.path, "--frames"]), 0)
        text = out.getvalue()
        self.assertIn("ingest_text", text)
        self.assertIn("   2  graft.A.f(A.scala:1)", text)
        self.assertIn("ingest_text      jobs per call: 3", text)

    def test_timeline_lists_jobs_in_start_order(self):
        ops, jobs = spans_summary.load(self.path)
        # the order jobs are read in does not matter
        jobs[0].reverse()
        self.assertEqual(spans_summary.timeline(ops[0], jobs[0]), [
            (100, 400, 300, 4, "graft.A.f(A.scala:1)"),
            (300, 600, 300, 2, "graft.A.f(A.scala:1)"),
            (800, 900, 100, 1, "graft.B.g(B.scala:2)")])
        self.assertEqual(spans_summary.timeline(ops[1], jobs.get(1, [])), [])

    def test_cli_prints_timeline(self):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            self.assertEqual(spans_summary.main([self.path, "--timeline"]), 0)
        lines = out.getvalue().splitlines()
        self.assertIn("            +0.100   +0.400   0.300     4  graft.A.f(A.scala:1)", lines)
        self.assertIn("            +0.800   +0.900   0.100     1  graft.B.g(B.scala:2)", lines)
        starts = [l.split()[0] for l in lines if l.strip().startswith("+")]
        self.assertEqual(starts, ["+0.100", "+0.300", "+0.800"])


if __name__ == "__main__":
    unittest.main()
