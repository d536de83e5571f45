"""Tests of tools/assemble_scale.py over hand-written ScaleLaws logs.

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

import assemble_scale  # noqa: E402

PRIOR = {
    "run": "round-14 measurement assembly",
    "round": 14,
    "host": "local[32]",
    "note": "...",
    "families": {
        "slot_align": [{"corpus": "decorr", "mean_agree": 0.6461, "secs": 20.43}],
        "serve_path": [{"variant": "brute", "recall3": 1.0, "secs": 1.5}],
        "jl_rotate": [{"dprime": 16, "n": 8000, "secs": 0.75}],
    },
}

# a log as the harness prints it, with Spark noise around the rows
SLOT_LOG = """\
26/10/20 01:36:25 INFO Executor: Starting executor ID driver on host localhost
{"family":"slot_align","corpus":"decorr","n":2000,"mean_agree":0.61,"secs":3.1}
26/10/20 01:36:30 WARN MapPartitionsRDD: RDD 529 was locally checkpointed
[info] {"family":"slot_align","corpus":"aligned","n":8000,"mean_agree":0.95,"secs":2.2}
"""

MARKDOWN_LOG = """\
| family | n | candidates | pairs | secs |
|---|---|---|---|---|
| simhash_narrow_q112 | 500 | 16309 | 5485 | 3.44 |
{"family":"simhash_narrow_q112","n":500,"factor":1,"candidates":16309,"pairs":5485,"secs":3.44}
"""

NOISE_ONLY_LOG = """\
26/10/20 01:36:25 INFO Executor: Starting executor ID driver on host localhost
[error] Exception in thread "main" java.lang.OutOfMemoryError: Java heap space
| family | n | candidates | pairs | secs |
"""


class AssembleScaleTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def write(self, name, text):
        path = os.path.join(self.tmp.name, name)
        with open(path, "w") as f:
            f.write(text)
        return path

    def run_tool(self, *logs):
        prior = self.write("prior.json", json.dumps(PRIOR))
        out = os.path.join(self.tmp.name, "out.json")
        with contextlib.redirect_stdout(io.StringIO()):
            assemble_scale.main(["15", prior, out, *logs])
        with open(out) as f:
            return json.load(f)

    def test_fresh_family_replaces_prior_rows(self):
        doc = self.run_tool(self.write("slot.log", SLOT_LOG))
        self.assertEqual(doc["round"], 15)
        self.assertEqual(doc["families"]["slot_align"], [
            {"corpus": "decorr", "n": 2000, "mean_agree": 0.61, "secs": 3.1},
            {"corpus": "aligned", "n": 8000, "mean_agree": 0.95, "secs": 2.2}])

    def test_other_families_carried_and_named(self):
        doc = self.run_tool(self.write("slot.log", SLOT_LOG))
        self.assertEqual(doc["families"]["serve_path"], PRIOR["families"]["serve_path"])
        self.assertEqual(doc["families"]["jl_rotate"], PRIOR["families"]["jl_rotate"])
        self.assertEqual(doc["note"], "fresh: slot_align. "
                         "Carried from round 14 unchanged: jl_rotate, serve_path")
        self.assertEqual(doc["host"], "local[32]")

    def test_log_without_family_rows_fails(self):
        good = self.write("slot.log", SLOT_LOG)
        bad = self.write("died.log", NOISE_ONLY_LOG)
        with self.assertRaises(SystemExit) as e:
            self.run_tool(good, bad)
        self.assertIn("died.log", str(e.exception))
        self.assertFalse(os.path.exists(os.path.join(self.tmp.name, "out.json")))

    def test_non_family_lines_are_ignored(self):
        doc = self.run_tool(self.write("laws.log", MARKDOWN_LOG))
        self.assertEqual(doc["families"]["simhash_narrow_q112"], [
            {"n": 500, "factor": 1, "candidates": 16309, "pairs": 5485, "secs": 3.44}])
        self.assertEqual(sorted(doc["families"]), [
            "jl_rotate", "serve_path", "simhash_narrow_q112", "slot_align"])


if __name__ == "__main__":
    unittest.main()
