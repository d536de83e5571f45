"""Tests of the benchmark's Python side: result-line parsing, the
refusal to compare runs over different inputs, and the build's own
copy of the compiled classes.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import compare  # noqa: E402
import run  # noqa: E402

RESULT = {"correct": True, "attempted": 3, "failed": 0,
          "metrics": {"setup_s": {"value": 6.5, "unit": "s"}}}


class ParseResultLine(unittest.TestCase):
    def test_bare_line(self):
        self.assertEqual(run.parse_result_line(json.dumps(RESULT)), RESULT)

    def test_sbt_log_prefix(self):
        self.assertEqual(run.parse_result_line("[info] " + json.dumps(RESULT)), RESULT)
        self.assertEqual(run.parse_result_line("[success] " + json.dumps(RESULT)), RESULT)

    def test_other_lines(self):
        self.assertIsNone(run.parse_result_line("[info] welcome to sbt"))
        self.assertIsNone(run.parse_result_line('{"metric": 1}'))
        self.assertIsNone(run.parse_result_line("{not json"))
        self.assertIsNone(run.parse_result_line(""))


def record(seed, rpc_stub, value):
    return {"workload": "batch", "seed": seed, "trace": False, "correct": True,
            "fingerprints": {"rpc_stub": rpc_stub},
            "end_to_end": {"setup_s": {"value": value, "unit": "s"}}}


class CompareRefusesDifferentInputs(unittest.TestCase):
    def write(self, directory, rec):
        path = os.path.join(directory, f"batch-seed{rec['seed']}-trace0.json")
        with open(path, "w") as f:
            json.dump(rec, f)

    def test_same_inputs_compare(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self.write(a, record(1, "aa", 6.0))
            self.write(b, record(1, "aa", 6.2))
            self.assertEqual(compare.main([a, b]), 0)

    def test_different_inputs_refused(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self.write(a, record(1, "aa", 6.0))
            self.write(b, record(1, "bb", 6.2))
            self.assertEqual(compare.main([a, b]), 2)


class BuildCopiesClasses(unittest.TestCase):
    def test_checkout_class_dirs_are_copied(self):
        with tempfile.TemporaryDirectory() as root, tempfile.TemporaryDirectory() as lib:
            classes = os.path.join(root, "target", "classes")
            os.makedirs(classes)
            with open(os.path.join(classes, "A.class"), "w") as f:
                f.write("v1")
            jar = os.path.join(lib, "x.jar")
            open(jar, "w").close()
            build = os.path.join(root, "perfbench", "target", "build-1")
            cp = run.copy_class_dirs(os.pathsep.join([classes, jar]), root, build).split(os.pathsep)
            self.assertEqual(cp[1], jar)
            self.assertTrue(cp[0].startswith(build))
            # a later build of the checkout does not reach the copy
            with open(os.path.join(classes, "A.class"), "w") as f:
                f.write("v2")
            with open(os.path.join(cp[0], "A.class")) as f:
                self.assertEqual(f.read(), "v1")


if __name__ == "__main__":
    unittest.main()
